"""Mergeable streaming sketches — HyperLogLog distinct counting and
Count-Min frequency estimation, built as pure Catalyst aggregations.

At 100 TB the questions "how many distinct keys" and "how often does this
key occur" cannot afford a full groupBy on the key (the shuffle IS the
dataset). A sketch replaces it with a groupBy on a FIXED register space —
256 HLL registers, depth×width Count-Min cells — so the shuffle after the
map-side partial combine is a few KB per partition regardless of input
size, and per-shard sketches merge associatively (``max`` of registers /
``sum`` of cells), which is exactly what an incremental ingest pipeline
needs: sketch each micro-batch, fold into the running sketch, never
re-scan history.

Determinism: every hash is either ``xxhash64`` (production, JVM codegen)
or the repo's portable 60-bit md5 convention (``conv(substr(md5(...),1,
15),16,10)``), so the portable form is bit-replayable in DuckDB — the
leading-zero rank is an exact integer comparison ladder (no float log2,
whose libm rounding differs across engines), and the HLL indicator sum is
accumulated as an exact ``BIGINT`` in units of 2^-R (order-independent),
with the single float division deferred to the final one-row estimate.

No reference analog (the connector moves opaque bytes); part of the
training-pipeline surface — the dedup/ingest tiers use these to size hash
tables, pick broadcast sides, and monitor key cardinality per micro-batch
without a second pass.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_gcs_spark.operators.util import local_frame

#: cap on the leading-zero rank: contributions below 2^-R are dropped so
#: the indicator sum stays an exact 64-bit integer (m * 2^R ≤ 2^48 at
#: m=256). P(rho > 40) = 2^-40 per key — the estimator is unaffected.
HLL_RHO_CAP = 40

#: portable hashes carry 60 bits (15 md5 hex chars), production 63
#: (xxhash64 with the sign bit cleared)
_PORTABLE_BITS = 60
_PROD_BITS = 63


def _hash60(key: Column, prefix: str) -> Column:
    """The repo's portable 60-bit md5 hash (DuckDB: ``('0x' ||
    substr(md5('<prefix>' || key), 1, 15))::BIGINT``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def _hash_bits(key: Column, prefix: str, portable: bool) -> "tuple[Column, int]":
    if portable:
        return _hash60(key, prefix), _PORTABLE_BITS
    h = F.xxhash64(F.concat(F.lit(prefix), key.cast("string")))
    return h.bitwiseAND(F.lit((1 << 63) - 1)), _PROD_BITS


def _leading_rank(rest: Column, width: int) -> Column:
    """1 + (leading zeros of ``rest`` viewed as a ``width``-bit integer),
    capped at :data:`HLL_RHO_CAP`. An exact comparison ladder — float
    ``log2`` is NOT cross-engine exact at power-of-two boundaries."""
    expr = F.lit(min(width + 1, HLL_RHO_CAP))
    for rho in range(min(width, HLL_RHO_CAP - 1), 0, -1):
        expr = F.when(rest >= F.lit(1 << (width - rho)), F.lit(rho)).otherwise(expr)
    return expr


def hll_registers(
    df: DataFrame,
    key_col: str,
    num_registers: int = 256,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """The HLL register table ``(register, rho)`` for the distinct values
    of ``key_col`` — only OBSERVED registers appear (empty ones are
    implied zeros; :func:`hll_estimate` accounts for them).

    One projection + a groupBy over ≤ ``num_registers`` keys: the
    map-side partial combine reduces each input partition to at most
    ``num_registers`` rows before the (tiny) exchange. Registers merge
    across shards/batches with :func:`hll_merge` — sketch once per
    micro-batch, never re-scan.
    """
    if num_registers & (num_registers - 1) or num_registers < 2:
        raise ValueError(f"num_registers must be a power of two ≥ 2: {num_registers}")
    p = num_registers.bit_length() - 1
    h, bits = _hash_bits(F.col(key_col), f"hll{seed}:", portable)
    # h // m via a shift: `/` is FLOAT division in Spark and h exceeds the
    # 2^53 exact-double range, so the quotient would silently lose bits
    rest = F.shiftright(h, p)
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            h.bitwiseAND(F.lit(num_registers - 1)).cast("int").alias("register"),
            _leading_rank(rest, bits - p).alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Fold per-shard register tables into one: union + max per register.
    ``merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B)`` exactly."""
    it = iter(register_tables)
    out = next(it)
    for t in it:
        out = out.unionByName(t)
    return out.groupBy("register").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, num_registers: int = 256) -> DataFrame:
    """One-row distinct-count estimate from a register table:
    ``(num_registers, zero_registers, sum_scaled, estimate)``.

    The HLL indicator sum Z = Σ 2^-M_j is carried as the exact integer
    ``sum_scaled = Σ 2^(R - M_j)`` (empty registers contribute 2^R each),
    so the aggregation is order-independent; the only float ops are the
    final one-row division and the small-range linear-counting branch
    (``m·ln(m/V)`` when the raw estimate ≤ 2.5m and zeros remain), both
    rounded to 4 decimals to absorb last-ulp libm differences between
    engines.
    """
    m = num_registers
    alpha = 0.7213 / (1.0 + 1.079 / m)
    R = HLL_RHO_CAP
    agg = registers.agg(
        F.count(F.lit(1)).alias("_nz"),
        # expr form: the Python shiftleft() helper only takes an int
        # literal shift, but the underlying expression accepts a column
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {R} - rho)")).alias("_s_obs"),
    )
    zeros = F.lit(m) - F.col("_nz")
    sum_scaled = F.coalesce(F.col("_s_obs"), F.lit(0)) + zeros * F.lit(1 << R)
    raw = F.lit(alpha * m * m * float(1 << R)) / sum_scaled.cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        F.lit(m).alias("num_registers"),
        zeros.cast("long").alias("zero_registers"),
        sum_scaled.cast("long").alias("sum_scaled"),
        F.round(est, 4).alias("estimate"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    num_registers: int = 256,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """:func:`hll_registers` + :func:`hll_estimate` in one call."""
    return hll_estimate(
        hll_registers(df, key_col, num_registers, seed, portable), num_registers
    )


def hll_standard_error(num_registers: int) -> float:
    """The theoretical relative standard error 1.04/√m."""
    return 1.04 / math.sqrt(num_registers)


# ---------------------------------------------------------------------------
# Count-Min
# ---------------------------------------------------------------------------


def _cm_cells(key: Column, depth: int, width: int, seed: int, portable: bool):
    cells = []
    for j in range(depth):
        h, _ = _hash_bits(key, f"cm{seed}:{j}:", portable)
        cells.append(
            F.struct(
                F.lit(j).alias("row_j"), (h % F.lit(width)).cast("int").alias("idx")
            )
        )
    return F.array(*cells)


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    weight_col: "str | None" = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Count-Min sketch ``(row_j, idx, cnt)`` of key occurrences (or of
    ``weight_col`` sums): ``depth`` independent hash rows of ``width``
    cells; every occurrence increments one cell per row.

    The ``depth``-way explode is map-side (each input row fans to
    ``depth`` (row_j, idx) pairs before the partial combine collapses
    them to ≤ depth·width rows per partition), so the exchange moves a
    fixed-size table no matter the corpus. Sketches over shards merge by
    summing cells — ``unionByName`` + the same groupBy.
    """
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            F.explode(_cm_cells(F.col(key_col), depth, width, seed, portable)).alias(
                "_c"
            ),
            w.alias("_w"),
        )
        .select("_c.row_j", "_c.idx", "_w")
        .groupBy("row_j", "idx")
        .agg(F.sum("_w").alias("cnt"))
    )


def bloom_positions(
    key: Column, num_bits: int, num_hashes: int, seed: int = 0, portable: bool = False
) -> Column:
    """The ``num_hashes`` bit positions a key sets/probes, as an
    ``array<int>`` — one independent hash per slot, reduced mod
    ``num_bits``."""
    pos = []
    for j in range(num_hashes):
        h, _ = _hash_bits(key, f"bloom{seed}:{j}:", portable)
        pos.append((h % F.lit(num_bits)).cast("int"))
    return F.array(*pos)


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """The Bloom filter's set-bit table ``(bit_idx)`` for the values of
    ``key_col`` — ≤ ``num_bits`` int rows, so the exchange after the
    map-side partial distinct is fixed-size regardless of input. Filters
    over shards merge by ``unionByName(...).distinct()`` (bit-OR), which
    is exactly ``bloom_build(A ∪ B)``.

    No false negatives ever; false-positive rate ≈ (1 - e^(-kn/m))^k —
    :func:`bloom_fp_rate`. The classic use here is decontamination /
    blocklist probing where the MEMBER SET is the small side: build once,
    pack with :func:`bloom_pack`, probe the corpus map-side."""
    if num_bits < 64 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two ≥ 64: {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be ≥ 1: {num_hashes}")
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            F.explode(
                bloom_positions(F.col(key_col), num_bits, num_hashes, seed, portable)
            ).alias("bit_idx")
        )
        .distinct()
    )


def bloom_pack(spark, bits: DataFrame, num_bits: int) -> DataFrame:
    """Pack a set-bit table into ONE row ``(bloom array<boolean>)`` for
    broadcast. The collect is metadata-scale by construction (≤ num_bits
    ints — the same driver-side footprint as a PQ codebook); the packed
    row crossJoins map-side so probe membership costs ZERO exchange."""
    idx = {r.bit_idx for r in bits.collect()}
    bad = [i for i in idx if not (0 <= i < num_bits)]
    if bad:
        raise ValueError(f"bit_idx out of range [0, {num_bits}): {bad[:3]}")
    bitmap = [i in idx for i in range(num_bits)]
    return local_frame(spark, [(bitmap,)], "bloom array<boolean>")


def bloom_maybe_contains(
    key: Column,
    bitmap: Column,
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
    portable: bool = False,
) -> Column:
    """Membership test against a packed bitmap column (from
    :func:`bloom_pack`, crossJoin-broadcast onto the probe rows): true
    iff ALL ``num_hashes`` positions are set. Pure expression — usable
    inside ``F.filter`` lambdas over a doc's gram array, so an entire
    decontamination pass stays map-only."""
    out = F.lit(True)
    for j in range(num_hashes):
        h, _ = _hash_bits(key, f"bloom{seed}:{j}:", portable)
        out = out & F.element_at(bitmap, (h % F.lit(num_bits)).cast("int") + F.lit(1))
    return out


def bloom_fp_rate(num_bits: int, num_hashes: int, n_keys: int) -> float:
    """Expected false-positive probability (1 - e^(-kn/m))^k."""
    return (1.0 - math.exp(-num_hashes * n_keys / num_bits)) ** num_hashes


def countmin_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Point-query the sketch for each probe key: ``(key, cm_est)`` where
    ``cm_est = min_j sketch[j][hash_j(key)]`` (missing cell = 0). The
    classic one-sided guarantee holds: ``cm_est ≥ true count``, with
    overestimate ≤ 2N/width at probability 1 - 2^-depth.

    The sketch is ≤ depth·width rows — always broadcast — so probing any
    number of keys is a map-side join, no exchange on the probe side.
    """
    cells = probes.select(
        F.col(key_col),
        F.explode(_cm_cells(F.col(key_col), depth, width, seed, portable)).alias("_c"),
    ).select(key_col, "_c.row_j", "_c.idx")
    return (
        cells.join(F.broadcast(sketch), ["row_j", "idx"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )
