"""Document deduplication for training-data curation.

Five dedup families, all shuffle-conscious:

* exact        — md5-hash groupBy (one shuffle on the 32-byte hash, never
                 on the document body; min doc_id survives deterministically)
* minhash LSH  — word-set minhash signatures → banded bucket join →
                 candidate pairs → exact Jaccard verify. The self-join is on
                 (band_idx, band_hash) buckets, so cost is Σ bucket² not n².
* simhash      — 64-bit sign-aggregated hash; near-dups = small Hamming
                 distance within LSH blocks of the simhash.
* n-gram Jaccard — exact Jaccard over word n-gram shingle sets, for
                 verification and small-candidate-set scoring.
* embedding    — cosine near-dup over `array<float>` embeddings (see
                 similarity.py for the ANN machinery).

Everything is Catalyst built-ins (codegen); hashes are md5-derived so the
DuckDB oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.text import words
from kafka_connect_gcs_spark.operators.util import local_frame


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated corpus: one representative (min id) per exact
    content hash, annotated with the group's ``copies`` count.

    groupBy(md5) with min — partial aggregation map-side; the shuffle
    carries (hash, winner) pairs only, never document bodies. At 100 TB this
    is the cheapest possible exact dedup: one hash-shuffle + one join back
    on the (unique) id, no sort, no self-join on text.
    """
    h = F.md5(F.col(text_col)).alias("fp")
    agg = df.select(h, F.col(id_col)).groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("copies")
    )
    return df.join(agg.select(id_col, "copies"), id_col, "inner")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fp, keep_id, copies) per content group — the dedup decision table."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("copies"))
    )


# ---------------------------------------------------------------------------
# shingles & Jaccard
# ---------------------------------------------------------------------------


def shingles_of_words(ws, n: int = 3):
    """Distinct word n-gram shingles of an already-computed words array.

    PASS AN ATTRIBUTE (a projected column), not the ``words(...)``
    expression: ``ws`` is referenced inside the per-shingle transform
    lambda, and interpreted HOFs have no common-subexpression elimination,
    so an inlined ``split()`` re-tokenizes the document once PER SHINGLE
    (measured 11× on the signature path). :func:`word_shingles` keeps the
    from-text form for one-shot expression contexts.

    Docs with fewer than ``n`` words produce an EMPTY shingle set (matching
    the DuckDB oracle's ``range(1, greatest(len-2,0)+1)``). The guard also
    avoids Spark's descending-sequence gotcha: ``sequence(1, 0)`` yields
    ``[1, 0]`` (it counts DOWN when start > stop) and ``slice(ws, 0, n)``
    then throws — so short docs would crash, not merely mis-shingle."""
    if n == 1:
        return F.array_distinct(ws)
    idx = F.when(
        F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, n)))
    )


def word_shingles(col, n: int = 3):
    """Shingles straight from a text column — fine where the expression is
    evaluated once per row; hot paths stage :func:`~...text.words` into
    its own projection and use :func:`shingles_of_words` (see its note)."""
    return shingles_of_words(words(col), n)


def staged_shingles(df: DataFrame, id_col: str, text_col: str, n: int):
    """(id, sh) with words and shingles in SEPARATE projections so neither
    expensive expression is inlined into a downstream lambda or fanned out
    across signature lanes (CollapseProject keeps multi-referenced
    non-cheap aliases staged). The shared hot path for every
    shingle-signature consumer."""
    return df.select(
        F.col(id_col), words(F.col(text_col)).alias("_ws")
    ).select(
        F.col(id_col), shingles_of_words(F.col("_ws"), n).alias("sh")
    )


def jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    uni = F.size(F.array_union(a, b))
    return F.when(uni > 0, inter / uni).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 1,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: "DataFrame | None" = None,
    max_all_pairs_docs: int = 100_000,
    verify: str = "pandas",
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold over document pairs.

    With ``candidates`` (a DataFrame with columns ``id_a``/``id_b``, e.g.
    the output of :func:`minhash_lsh_pairs` run at a lower threshold, or
    any blocking scheme's pair list): scores ONLY those pairs — the exact
    scorer composes into the scalable LSH pipeline, so the corpus joins
    the (small) candidate relation instead of itself.

    Without ``candidates``: ALL pairs, an O(n²) self-join — the
    brute-force oracle path for small sets. Guarded: corpora above
    ``max_all_pairs_docs`` raise instead of silently launching a
    quadratic job (10^10-doc corpora go through candidate generation;
    the guard checks ``limit(bound+1).count()`` so it never scans more
    than the bound)."""
    sh = staged_shingles(df, id_col, text_col, n)
    if candidates is None:
        if df.limit(max_all_pairs_docs + 1).count() > max_all_pairs_docs:
            raise ValueError(
                f"ngram_jaccard_pairs without candidates is an all-pairs "
                f"cartesian, refused above {max_all_pairs_docs} docs — pass "
                "candidates= (e.g. minhash_lsh_pairs output) or raise "
                "max_all_pairs_docs explicitly"
            )
        a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            candidates.select("id_a", "id_b")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .join(
                sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
                "id_a",
            )
            .join(
                sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
                "id_b",
            )
        )
    if candidates is not None and verify == "pandas":
        # vectorized verify: the interpreted array_intersect/array_union
        # pair (an O(|a|·|b|)-ish interpreted walk per candidate) is the
        # dominant cost when the blocking scheme emits many candidates
        # (tiny-vocabulary corpora make every prefix token hot). Python
        # set ops compute the identical |∩|/|∪| integers — array_union /
        # array_intersect are set-semantic — and the score is the same
        # IEEE double division, rounded by the HALF_UP twin of F.round.
        from kafka_connect_gcs_spark.operators.similarity import _round6

        id_t = df.schema[id_col].dataType.simpleString()
        thr = float(threshold)

        def score(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                sa = pdf["sh_a"]
                sb = pdf["sh_b"]
                jac = np.empty(len(pdf), dtype="float64")
                for i in range(len(pdf)):
                    a = set(sa.iat[i])
                    b = set(sb.iat[i])
                    uni = len(a | b)
                    jac[i] = len(a & b) / uni if uni > 0 else 0.0
                jac = _round6(jac)
                keep = jac >= thr
                if keep.any():
                    yield pd.DataFrame(
                        {
                            "id_a": pdf["id_a"].to_numpy()[keep],
                            "id_b": pdf["id_b"].to_numpy()[keep],
                            "jaccard": jac[keep],
                        }
                    )

        return pairs.select("id_a", "id_b", "sh_a", "sh_b").mapInPandas(
            score, schema=f"id_a {id_t}, id_b {id_t}, jaccard double"
        )
    return (
        pairs.select(
            "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# near-dup clusters → dedup decision
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    max_local_edges: int = 2_000_000,
) -> DataFrame:
    """(node, component) for the undirected graph given as edge pairs, where
    ``component`` is the smallest node id reachable — hash-to-min label
    propagation with POINTER JUMPING:

        label(v) ← min(label(v), min over neighbors u of label(u))
        label(v) ← label(label(v))            # pointer jump

    iterated to fixpoint. The neighbor step alone moves the min label one
    hop per round (O(diameter) rounds — a chain-shaped dup cluster
    degrades linearly); the jump step re-reads each node's label THROUGH
    its current label, roughly doubling the propagated distance per round,
    so convergence is O(log diameter) — the same mechanism as
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond"). The jump is sound because label(u) ≤ u is an
    invariant (labels start at the node id and only min-decrease), so
    label(label(v)) ≤ label(v) and both name nodes in v's component.

    Each round is two self-joins + a groupBy-min over (edge, label) rows —
    all partial-aggregating shuffles, no driver-side graph, so it scales
    to edge sets that don't fit one machine. The fixpoint check rides the
    round's own materialization: the old label is carried through the
    round and a changed-label count is attached as an ``Observation`` on
    the eager checkpoint job, so each round runs exactly ONE Spark job
    (no separate convergence-count job).

    This is the step that turns near-dup PAIRS (minhash/simhash/embedding)
    into a dedup DECISION: keep ``component`` (the min id), drop the rest.
    """
    from pyspark import StorageLevel

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Size-gated driver union-find: near-dup edge sets are usually
    # metadata-scale (qualifying pairs, not the corpus), and each
    # distributed round below costs a fixed 2-join + checkpoint job —
    # several seconds of pure dispatch to close 20 edges. Gate on the
    # REAL count over the already-persisted edges (the same
    # counted-not-guessed pattern as the broadcast gates); the result is
    # identical by definition (component = min reachable id). The
    # distributed fixpoint remains the path for edge sets above the gate.
    n_edges = edges.count()
    if n_edges <= max_local_edges:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r0 in rows:
            s, d = r0[0], r0[1]
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for nd in parent:
            r = find(nd)
            m = comp_min.get(r)
            if m is None or nd < m:
                comp_min[r] = nd
        out_rows = [(nd, comp_min[find(nd)]) for nd in parent]
        node_type = edges.schema["src"].dataType.simpleString()
        result = local_frame(
            pairs.sparkSession, out_rows, f"node {node_type}, component {node_type}"
        )
        edges.unpersist()
        return result
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from pyspark.sql import Observation

    for _ in range(max_iterations):
        # candidate labels: min over own label ∪ neighbors' labels, with
        # the OLD label carried alongside so convergence is decided from
        # this round's own output (no extra join-back job)
        nmin = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("_nmin"))
        )
        hopped = labels.join(nmin, "node", "left").select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component ← label(component). Left join + coalesce
        # guards the (impossible by invariant) case of a label naming a
        # node outside the label set.
        parents = hopped.select(
            F.col("node").alias("component"), F.col("component").alias("_parent")
        )
        # localCheckpoint (not persist): the jump references `hopped` twice,
        # so without lineage truncation the logical plan DOUBLES per round
        # and plan construction itself OOMs after ~8 rounds. Checkpointing
        # each round's labels keeps the plan O(1) per round; label rows are
        # one (node, component) pair per node — metadata-scale storage.
        # The Observation rides the (eager) checkpoint job, so the changed
        # count costs no extra job.
        obs = Observation()
        new_labels = (
            hopped.join(parents, "component", "left")
            .select(
                "node",
                F.col("_old"),
                F.coalesce(F.col("_parent"), F.col("component")).alias("component"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .drop("_old")
            .localCheckpoint()
        )
        # sum over ZERO rows observes NULL, not 0 — an empty edge set
        # (no near-dup pairs at all) is converged, not divergent
        changed = obs.get["changed"] or 0
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        # propagation reach grows ~2× per round, so max_iterations bounds
        # ~log2(diameter) — silently returning would split one transitive
        # cluster into several "components" (duplicates kept)
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds it); raise max_iterations"
        )
    edges.unpersist()
    return labels.select("node", "component")


def neardup_dedup_decision(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → (doc_id, keep_id, drop): transitive closure via
    :func:`connected_components`; the smallest id in each cluster survives.
    Docs with no near-dup never appear (callers left-join and default
    keep_id = doc_id, drop = false)."""
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keep_id"),
        (F.col("node") != F.col("component")).alias("drop"),
    )


def neardup_keep_best(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Quality-aware dedup decision: within each near-dup cluster keep the
    HIGHEST-scoring document (tie → smallest id), not the smallest id.

    The production choice for training corpora — clusters usually contain
    one clean original plus boilerplate-wrapped mirrors, and keep-min
    picks whichever crawled first. Composition: transitive closure via
    :func:`connected_components`, then one groupBy per cluster with a
    type-agnostic ``min_by(node, struct(-score, node))`` argmax (highest
    score, then the id's natural ordering — strings included).

    Scale shape: the cluster table is ≤ one row per PAIRED doc (tiny next
    to the corpus), so the score join touches only clustered ids and the
    argmax groupBy moves ≤ |clustered| narrow rows. Returns ``(doc_id,
    keep_id, is_drop)``; unpaired docs never appear (callers left-join
    and default keep).
    """
    cc = connected_components(pairs, a_col=a_col, b_col=b_col)
    labeled = cc.join(
        scores.select(
            F.col(id_col).alias("node"), F.col(score_col).cast("double").alias("_s")
        ),
        "node",
    )
    best = labeled.groupBy("component").agg(
        F.min_by(
            F.col("node"), F.struct((-F.col("_s")).alias("neg_s"), F.col("node"))
        ).alias("keep_id")
    )
    return (
        cc.join(best, "component")
        .select(
            F.col("node").alias("doc_id"),
            "keep_id",
            (F.col("node") != F.col("keep_id")).alias("is_drop"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    prefilter_slack: float | None = 0.3,
    eager: bool = True,
) -> DataFrame:
    """Candidate generation by banded minhash buckets, then exact Jaccard
    verification of candidates only.

    Scale shape: signatures are tiny (H longs/doc); explode to `bands` rows
    per doc; the bucket self-join shuffles on (band, hash-of-rows) —
    collision buckets are the only quadratic site, and real corpora make
    them small. The final verify re-joins shingle sets for candidate pairs
    only (|candidates| ≪ n²).

    Perf structure (measured at sf0.1, 5k docs: 10.4 s → ~3 s total):

    * ``base`` (shingles + signature) is computed ONCE and persisted. Left
      lazy, Catalyst's CollapseProject inlines the 16-lane signature
      expression into every band struct (16× recompute) and the verify
      self-join recomputes shingling twice more. The persisted rows are
      consumed by the banding (sig), the prefilter (sig), and the verify
      (sh); with ``eager=True`` (default) the bounded pair result is
      localCheckpoint-ed and the cache released before returning
      (long-lived callers don't accumulate cached relations);
      ``eager=False`` keeps the plan lazy and leaves the cache to LRU.
    * a small input (fewer partitions than cores) is spread with one
      round-robin repartition first — signature computation is
      embarrassingly parallel and otherwise pins to the input's file count.
    * candidate generation carries ONLY (id, band, bucket); arrays are
      re-attached to the (much smaller) candidate set afterwards. Shuffling
      the arrays through the band explode + self-join costs ~100× the bytes
      and measured ~2× the wall time.
    * ``prefilter_slack``: candidates are first scored by signature
      agreement (a cheap 16-long comparison, an unbiased Jaccard estimate)
      and dropped when est < threshold − slack, so the expensive
      shingle-set verify touches only plausible pairs — the dominant cost
      on shingle-dense corpora. Pairs are dropped only ≥ slack below the
      estimate's mean, so with slack ≈ 3σ (0.3 at H=16) misses are rare
      (deterministic for a fixed corpus; sf0.01/sf0.1 outputs verified
      identical to exhaustive verification). None disables the prefilter
      for exact candidate-set semantics."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    from pyspark import StorageLevel

    from kafka_connect_gcs_spark.operators.util import spread_small_input

    # signature computation is embarrassingly parallel — spread a few-file
    # input across cores first (metadata probe, no RDD conversion)
    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))

    # Production keeps the cached shingle sets as xxhash64 LONGS, not
    # strings: the verify self-join below shuffles two shingle arrays per
    # candidate pair, and 8-byte hashes cut its shuffle bytes ~4× and make
    # the intersect a long comparison — measured the verify stage at 466 s
    # of a 565 s run on the replicated-corpus bench before this. Set sizes
    # (and so the Jaccard value) are preserved short of a 64-bit collision
    # INSIDE one document's ~100-shingle set (~1e-17 per doc). Signatures
    # still hash the original strings, so banding/candidates are unchanged;
    # portable=True keeps strings so the DuckDB oracle replays verbatim.
    staged = staged_shingles(src, id_col, text_col, shingle_n)
    sh_stored = (
        F.col("sh") if portable
        else F.transform(F.col("sh"), lambda s: F.xxhash64(s))
    )
    base = staged.select(
        F.col(id_col),
        sh_stored.alias("sh"),
        _minhash_of_shingles(F.col("sh"), num_hashes, portable).alias("sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def band_bucket(bidx):
        members = [
            F.element_at("sig", bidx * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if portable:
            # engine-portable bucket: plain join of the band's sig values —
            # DuckDB reproduces it verbatim, so the oracle can replay the
            # ENTIRE candidate generation, not just the verify step
            return F.concat_ws(":", *[m.cast("string") for m in members]).alias(
                "bucket"
            )
        return F.xxhash64(F.lit(bidx), *members).cast("string").alias("bucket")

    banded = base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bidx).alias("band"), band_bucket(bidx))
                    for bidx in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    if prefilter_slack is not None:
        sigs = base.select(F.col(id_col), F.col("sig"))
        est = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        ) / F.lit(float(num_hashes))
        cand = (
            cand.join(
                sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")),
                "id_a",
            )
            .join(
                sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")),
                "id_b",
            )
            .where(est >= F.lit(max(0.0, threshold - prefilter_slack)))
            .select("id_a", "id_b")
        )

    # verify with |A∩B| computed once and |A∪B| from precomputed sizes —
    # array_union would materialize the union array just to count it.
    # (Tried and REJECTED this round: persisting only (id, sig) and
    # recomputing shingles for candidate docs via a semi-join — the
    # recompute pass + extra exchange measured ~2.5 s vs ~4.4 s WORSE
    # warm at sf1.0 prod than reading the cached arrays; the wide-array
    # cache is the cheaper side of this trade here, unlike dsir's.)
    shs = base.select(F.col(id_col), F.col("sh"), F.size("sh").alias("sz"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        cand.join(
            shs.select(
                F.col(id_col).alias("id_a"),
                F.col("sh").alias("sh_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            shs.select(
                F.col(id_col).alias("id_b"),
                F.col("sh").alias("sh_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("_inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.when(
                    (F.col("sz_a") + F.col("sz_b") - F.col("_inter")) > 0,
                    F.col("_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("_inter")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    base.unpersist(blocking=True)
    return out


def _minhash_of_shingles(sh, num_hashes: int, portable: bool = False):
    """portable=True → md5-derived (bit-identical in DuckDB, ~50× slower);
    default xxhash64 (one JVM hash per (seed, shingle), the production path).
    """
    if portable:

        def hasher(i: int):
            # single-arg lambda only: arity-2 lambdas receive the array index
            prefix = f"s{i}:"
            return lambda w: F.conv(
                F.substring(F.md5(F.concat(F.lit(prefix), w)), 1, 15), 16, 10
            ).cast("long")

    else:

        def hasher(i: int):
            return lambda w: F.xxhash64(w, F.lit(i))

    return F.array(
        *[F.array_min(F.transform(sh, hasher(i))) for i in range(num_hashes)]
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


NUM_SIMHASH_BITS = 63  # 63 keeps the packed value in signed-long range
NUM_SIMHASH_BITS_PORTABLE = 60  # 15 md5 hex chars → 60 engine-portable bits


def simhash64(col, portable: bool = False) -> F.Column:
    """SimHash over the word set: bit b is 1 iff Σ_words ±1 > 0, where the
    sign is bit b of the word's hash. One aggregate pass over words with a
    per-bit zip_with accumulator; lanes are then packed via a binary string
    → ``conv(_, 2, 10)`` (bit positions must be Python ints — Spark's shift
    functions don't take column shift amounts).

    portable=False (production): 63 bits of xxhash64 (one JVM hash/word).
    portable=True: 60 bits from ``conv(substr(md5(w),1,15),16,10)`` — the
    identical value DuckDB computes with ``('0x'||substr(md5(w),1,15))::
    BIGINT``, so the oracle can reproduce the simhash (and therefore the
    whole near-dup pipeline) bit-for-bit."""
    nbits = NUM_SIMHASH_BITS_PORTABLE if portable else NUM_SIMHASH_BITS
    ws = F.array_distinct(words(col))
    zero = F.array_repeat(F.lit(0).cast("long"), nbits)

    if portable:
        def word_hash(w):
            return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    else:
        def word_hash(w):
            return F.xxhash64(w)

    def bits(h):
        # h must be a LAMBDA VARIABLE, not the hash expression itself:
        # interpreted HOFs get no common-subexpression elimination, so an
        # inlined word_hash(w) here would re-hash the word once per bit
        # lane (63-76x the hashing work — measured ~1.4x whole-query cost)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long"))
                for b in range(nbits)
            ]
        )

    hs = F.transform(ws, word_hash)  # hash each distinct word exactly once
    lanes = F.aggregate(
        hs, zero, lambda acc, h: F.zip_with(acc, bits(h), lambda x, y: x + y)
    )
    bitstr = F.concat_ws(
        "",
        F.transform(
            F.reverse(lanes), lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )
    return F.conv(bitstr, 2, 10).cast("long")


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures_pandas(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable 60-bit simhash computed in numpy per Arrow batch.

    Emits the BIT-IDENTICAL value of ``simhash64(col, portable=True)`` —
    md5-derived word hashes over the distinct lower-cased whitespace words
    — but ~an order of magnitude faster: interpreted HOFs re-walk a 60-lane
    accumulator per word, while here the whole batch's words are hashed
    once through a dict cache and the bit-majority is one (W × 60) numpy
    reduction per doc. Tokenization mirrors Spark's
    ``split(lower(text), '\\s+')`` (Java ``\\s`` = ASCII whitespace), which
    the parity test pins on the real corpus.

    Only the portable (md5) variant exists in Python: the production
    xxhash64 path stays JVM-side where that hash lives.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    nbits = NUM_SIMHASH_BITS_PORTABLE
    src = df.select(F.col(id_col), F.col(text_col))
    id_field = src.schema[id_col]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType), StructField("sh", LongType())]
    )

    def compute(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Unicode \s
        cache: dict[str, int] = {}
        shifts = np.arange(nbits, dtype=np.uint64)

        def word_hash(w: str) -> int:
            h = cache.get(w)
            if h is None:
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                cache[w] = h
            return h

        for pdf in batches:
            # null signature for null/NaN text (matches the Catalyst
            # simhash64 path, which is null-propagating) — astype(str)
            # would turn nulls into the literal "None"/"nan" and give
            # every null-text doc one shared, spurious signature
            out: "list[int | None]" = [None] * len(pdf)
            for row_i, text in enumerate(pdf[text_col]):
                if not isinstance(text, str):
                    continue
                ws = {w for w in ascii_ws.split(text.lower()) if w}
                if not ws:
                    out[row_i] = 0
                    continue
                hs = np.fromiter(
                    (word_hash(w) for w in ws), dtype=np.uint64, count=len(ws)
                )
                votes = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                    np.int32
                )
                # bit b set iff strictly more 1-votes than 0-votes
                ones = votes.sum(axis=0)
                bits = (2 * ones > len(ws)).astype(np.uint64)
                out[row_i] = int((bits << shifts).sum(dtype=np.uint64))
            # nullable Int64, NOT a bare list: pandas infers float64 for a
            # mixed int/None list and silently rounds 60-bit signatures
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "sh": pd.array(out, dtype="Int64")}
            )

    return src.mapInPandas(compute, schema=out_schema)


def simhash_signatures_hybrid(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """SimHash signatures with the word HASHES computed in the JVM (one
    codegen ``transform`` per distinct word — xxhash64 for production,
    md5-derived for portable) and the bit-majority vote in numpy per
    Arrow batch.

    Bit-identical to :func:`simhash64` for BOTH variants: the JVM emits
    the exact same per-word hash longs the expression form feeds its
    fold, and the vote (+1 if bit b of h set else −1, bit set iff the
    sum is > 0) is replayed with int64 arithmetic shifts — what the
    63-lane interpreted fold cost per word, one vectorized
    ``add.reduceat`` now pays per BATCH. Null text propagates to a null
    signature, an empty word set to 0, matching the expression path."""
    from pyspark.sql.types import LongType, StructField, StructType

    nbits = NUM_SIMHASH_BITS_PORTABLE if portable else NUM_SIMHASH_BITS
    if portable:
        def word_hash(w):
            return F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    else:
        def word_hash(w):
            return F.xxhash64(w)

    src = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(words(F.col(text_col))), word_hash
        ).alias("_hs"),
    )
    id_field = src.schema[id_col]
    out_schema = StructType(
        [StructField(id_col, id_field.dataType), StructField("sh", LongType())]
    )

    def compute(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(nbits, dtype=np.int64)

        for pdf in batches:
            n = len(pdf)
            out: "list[int | None]" = [None] * n
            arrs, lens, rows = [], [], []
            for row_i, hs in enumerate(pdf["_hs"]):
                if hs is None:
                    continue
                if len(hs) == 0:
                    out[row_i] = 0
                    continue
                arrs.append(np.asarray(hs, dtype=np.int64))
                lens.append(len(hs))
                rows.append(row_i)
            if arrs:
                allh = np.concatenate(arrs)
                # (words, nbits) 0/1 votes; arithmetic >> matches
                # F.shiftright and &1 keeps only the selected bit
                bits = ((allh[:, None] >> shifts[None, :]) & 1).astype(np.int64)
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(np.asarray(lens[:-1], dtype=np.int64), out=starts[1:])
                ones = np.add.reduceat(bits, starts, axis=0)
                n_words = np.asarray(lens, dtype=np.int64)[:, None]
                set_bits = (2 * ones > n_words).astype(np.uint64)
                packed = (set_bits << shifts.astype(np.uint64)[None, :]).sum(
                    axis=1, dtype=np.uint64
                ).astype(np.int64)
                for j, row_i in enumerate(rows):
                    out[row_i] = int(packed[j])
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "sh": pd.array(out, dtype="Int64")}
            )

    return src.mapInPandas(compute, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    blocks: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    sig_impl: str = "hybrid",
    eager: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: block the 64-bit hash into `blocks` chunks
    (pigeonhole: d ≤ max_hamming ⇒ some chunk equal), join per block, verify
    Hamming distance — the standard scalable simhash recipe.

    The pigeonhole guarantee needs ``blocks > max_hamming`` (d bit flips can
    dirty at most d blocks); blocks defaults to max_hamming + 1 and a
    violating explicit value is rejected.

    ``sig_impl`` picks the signature computation: ``"hybrid"`` (default:
    JVM word hashes + numpy bit-majority — bit-identical to the
    expression form for both portable and production hashes, ~4× faster),
    ``"expr"`` (pure Catalyst HOFs) or ``"pandas"`` (all-python;
    portable-only — proven bit-identical by test_dedup_strategies)."""
    if sig_impl not in ("expr", "pandas", "hybrid"):
        raise ValueError(
            f"sig_impl must be 'expr', 'pandas' or 'hybrid', got {sig_impl!r}"
        )
    if sig_impl == "pandas" and not portable:
        raise ValueError("sig_impl='pandas' implements only the portable hash")
    if blocks is None:
        blocks = max_hamming + 1
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    nbits = NUM_SIMHASH_BITS_PORTABLE if portable else NUM_SIMHASH_BITS
    chunk = -(-nbits // blocks)  # ceil: every bit must land in some block
    from pyspark import StorageLevel

    from kafka_connect_gcs_spark.operators.util import spread_small_input

    # the per-doc simhash is the dominant cost and embarrassingly parallel
    # — spread a small (few-file) input across cores first (metadata probe)
    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    # persist the narrow (id, 64-bit hash) rows: the block self-join reads
    # them twice, and recomputing the simhash is the expensive part
    # (released under eager=True below)
    if sig_impl == "pandas":
        sh = simhash_signatures_pandas(src, text_col=text_col, id_col=id_col)
    elif sig_impl == "hybrid":
        sh = simhash_signatures_hybrid(
            src, text_col=text_col, id_col=id_col, portable=portable
        )
    else:
        sh = src.select(
            F.col(id_col), simhash64(F.col(text_col), portable=portable).alias("sh")
        )
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    exploded = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sh"), i * chunk)
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sh", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = exploded.select("blk", "key", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = exploded.select("blk", "key", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # A pair with d ≤ max_hamming can collide in up to `blocks` blocks; an
    # earlier revision emitted every collision and removed the copies with
    # dropDuplicates — a full exchange of the CANDIDATE set (26M rows on
    # the dense sf1.0 bench, 3.8 s of its 5 s). Each pair is now kept only
    # at its FIRST matching block — a pure expression on sh_a^sh_b (block
    # j matches iff its xor chunk is 0), so exactly one copy survives BY
    # CONSTRUCTION and the dedup exchange disappears. Same pair set: every
    # qualifying pair has ≥1 matching block, and `blk` ranges over all of
    # them in the join.
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    first_blk = F.lit(blocks - 1)
    for i in range(blocks - 2, -1, -1):
        chunk_i = F.shiftright(xor, i * chunk).bitwiseAND(F.lit((1 << chunk) - 1))
        first_blk = F.when(chunk_i == 0, F.lit(i)).otherwise(first_blk)
    out = (
        a.join(b, ["blk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.bit_count(xor) <= max_hamming)
        .where(F.col("blk") == first_blk)
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
    )
    if not eager:
        return out
    out = out.localCheckpoint(eager=True)
    sh.unpersist(blocking=True)
    return out
