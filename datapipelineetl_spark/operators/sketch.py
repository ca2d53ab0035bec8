"""Probabilistic sketch operators: count-min, HyperLogLog, Bloom filter.

The three classic streaming/distributed sketches a 100 TB corpus
pipeline leans on when exact answers are too expensive to shuffle:

- **count-min** (Cormode & Muthukrishnan 2005): frequency upper bounds
  from a d x w counter grid — heavy-hitter token monitoring without a
  full vocabulary shuffle per probe.
- **HyperLogLog** (Flajolet et al. 2007): distinct counts from m
  max-rank registers — per-source vocabulary cardinality in O(m)
  state instead of a count-distinct shuffle.
- **Bloom filter** (Bloom 1970): set membership from a k-hash bitset —
  benchmark decontamination as a BROADCAST bit test over the corpus
  instead of an O(corpus-grams) shuffle join (compare
  ``corpus.contaminated_ids``, the exact join form).

Every hash here is an md5 hex-slice (the repo-wide ``token_hash60``
discipline), so each sketch is bit-for-bit replayable in ANSI SQL: the
DuckDB oracles rebuild the same counters / registers / bit positions
and the comparison pins the sketch CONTENTS, not just a tolerance band
around the estimate. Sketches are approximate with respect to the true
statistic but deterministic with respect to the data — including their
collisions and false positives, which the oracles reproduce exactly.

The reference pipeline has no sketch surface (its analytics delegate
to Elasticsearch aggregations, ``logstash.conf:1-10``); these extend
the engine the way its users would need at corpus scale.

Scale notes per operator in the docstrings. Common theme: the sketch
state is METADATA-sized (d*w counters, m registers, an m-bit set), so
it broadcasts; the data-sized side stays narrow or partial-aggregated.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelineetl_spark.operators.text import shingles, token_hash60, tokens

__all__ = [
    "countmin_sketch",
    "countmin_estimate",
    "hll_distinct",
    "hll_registers",
    "hll_estimate_from_registers",
    "bloom_positions",
    "build_bloom_bitset",
    "bloom_flag_contaminated",
    "bloom_max_k",
]


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def _cm_bucket(tok: Column, row: int, width: int) -> Column:
    """Row-``row``'s bucket for a token: 60-bit md5 hash of
    ``"{row}:{token}"`` mod ``width`` — one independent hash function
    per counter row, replayable in SQL as
    ``('0x' || substr(md5(row || ':' || tok), 1, 15))::BIGINT % width``."""
    return (token_hash60(F.concat(F.lit(f"{row}:"), tok)) % width).cast("int")


def countmin_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Fold the corpus token stream into a ``depth`` x ``width``
    count-min grid: returns (row, bucket, cnt) with one row per
    NON-EMPTY counter. Estimates read the grid via
    ``countmin_estimate``; absent (row, bucket) pairs are zero
    counters.

    Scale: one explode + ONE partial-aggregated shuffle on
    (row, bucket) — map-side combine collapses each partition's token
    repeats into at most depth*width partial counters before the
    exchange, so the shuffle volume is bounded by the GRID size per
    partition, not the token count. The result is metadata-sized
    (<= depth*width rows) and broadcasts into any downstream join.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}x{width}")
    toks = df.select(
        F.explode_outer(tokens(text_col)).alias("__tok")
    ).filter(F.col("__tok").isNotNull())
    pairs = toks.select(
        F.posexplode(
            F.array(*[_cm_bucket(F.col("__tok"), i, width) for i in range(depth)])
        ).alias("row", "bucket")
    )
    return pairs.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimate(
    sketch_df: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 3,
    width: int = 64,
    out: str = "cm_count",
) -> DataFrame:
    """Count-min frequency estimates for ``probes[token_col]``: each
    probe reads its ``depth`` counters and takes the MIN — an upper
    bound on the true count (collisions only ever inflate a counter,
    never deflate it). ``depth``/``width`` must match the build call.
    Returns (token_col, out); a token whose every counter row is
    absent from the sketch estimates 0.

    Scale: the probe side explodes to depth rows each; the sketch is
    metadata-sized so AQE broadcasts it — no data-sized shuffle.
    """
    with_cells = probes.select(
        F.col(token_col),
        F.posexplode(
            F.array(
                *[_cm_bucket(F.col(token_col), i, width) for i in range(depth)]
            )
        ).alias("row", "bucket"),
    )
    return (
        with_cells.join(F.broadcast(sketch_df), ["row", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out))
    )


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def hll_distinct(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    m: int = 64,
    out: str = "hll_estimate",
    ngram: int = 1,
) -> DataFrame:
    """Per-``group_col`` HyperLogLog estimate of the DISTINCT token
    count — or distinct word ``ngram``-count when ``ngram`` > 1, the
    higher-cardinality regime that exercises the raw harmonic-mean
    branch instead of the small-range linear-counting correction
    (Flajolet et al. 2007). The 60-bit md5 item hash splits
    into bucket = low ``log2(m)`` bits and a (60 - log2 m)-bit suffix;
    each bucket's register keeps the max rank (leading-zero count + 1)
    seen; the estimate is the bias-corrected harmonic mean, with the
    small-range linear-counting correction when empty buckets remain.

    Returns (group_col, n_empty_buckets, out) with ``out`` rounded to
    2 decimals. Cross-engine float parity: the harmonic sum
    ``sum(2^-rho)`` is accumulated as the EXACT integer
    ``sum(1 << (w+1 - rho))`` (every term a power of two <= 2^w, the
    total < 2^(w+7) — exact in BIGINT, immune to float addition order,
    which varies with Spark's partial-agg schedule), then divided by
    2^(w+1) once. The remaining arithmetic is a fixed sequence of IEEE
    ops on exact inputs, identical in Spark and the SQL oracle.

    Scale: the register build is ONE partial-aggregated shuffle on
    (group, bucket) — map-side max collapses each partition to at most
    m partial registers per group before the exchange — then an
    m-rows-per-group final fold. State per group is m registers
    regardless of corpus size; no count-distinct shuffle of the token
    stream ever happens.
    """
    b = int(math.log2(m))
    if 2**b != m or not (4 <= m <= 4096):
        raise ValueError(f"m must be a power of two in [4, 4096], got {m}")
    regs = hll_registers(df, group_col, text_col, m, ngram)
    return hll_estimate_from_registers(regs, group_col, m, out)


def hll_registers(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    m: int = 64,
    ngram: int = 1,
) -> DataFrame:
    """The mergeable half of HLL: (group_col, __bucket, __reg) max-rank
    registers. Register MAX is associative and idempotent, so partials
    from any split of the data — partitions, micro-batches, per-day
    corpora — fold exactly with ``groupBy(...).agg(max(__reg))``; the
    streaming tie-in (``streaming.runner.streaming_sketch_state``)
    relies on exactly this."""
    b = int(math.log2(m))
    if 2**b != m or not (4 <= m <= 4096):
        raise ValueError(f"m must be a power of two in [4, 4096], got {m}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    w = 60 - b  # suffix bit width
    items = tokens(text_col) if ngram == 1 else shingles(text_col, ngram)
    toks = df.select(
        F.col(group_col),
        F.explode_outer(items).alias("__tok"),
    ).filter(F.col("__tok").isNotNull())
    h = token_hash60(F.col("__tok"))
    suffix = F.shiftright(h, b)
    rho = F.when(suffix == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(suffix))
    )
    return (
        toks.select(group_col, (h % m).cast("int").alias("__bucket"),
                    rho.alias("__rho"))
        .groupBy(group_col, "__bucket")
        .agg(F.max("__rho").alias("__reg"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_col: str = "source",
    m: int = 64,
    out: str = "hll_estimate",
) -> DataFrame:
    """Fold (group_col, __bucket, __reg) registers into the estimate —
    the read-time half shared by the batch operator and the streaming
    state fold. ``regs`` must hold ONE row per (group, bucket) (merge
    partials with max first). See ``hll_distinct`` for the float-parity
    design (exact BIGINT harmonic numerator)."""
    b = int(math.log2(m))
    if 2**b != m:
        raise ValueError(f"m must be a power of two, got {m}")
    w = 60 - b
    alpha = 0.7213 / (1 + 1.079 / m)
    folded = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__present"),
        # exact integer harmonic numerator: 2^(w+1-rho) per register
        # (expr: Spark's shiftleft builtin takes only a literal count)
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w + 1} - __reg)"))
        .alias("__num"),
    )
    harm = (F.col("__num") / F.lit(float(2 ** (w + 1)))) + (
        F.lit(m) - F.col("__present")
    )
    raw = F.lit(alpha * m * m) / harm
    empties = (F.lit(m) - F.col("__present")).cast("int")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (empties > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empties),
    ).otherwise(raw)
    return folded.select(
        group_col,
        empties.alias("n_empty_buckets"),
        F.round(est, 2).alias(out),
    )


# ---------------------------------------------------------------------------
# Bloom filter decontamination
# ---------------------------------------------------------------------------

BLOOM_HEX_WIDTH = 5  # default: 5 hex chars per slice -> m = 16^5 = 2^20 bits


def bloom_max_k(hex_width: int) -> int:
    """Disjoint md5 hex slices available at this width."""
    return 32 // hex_width


def bloom_positions(
    gram: Column, k: int = 2, hex_width: int = BLOOM_HEX_WIDTH
) -> Column:
    """``array<long>`` of ``k`` bit positions for a gram, each a
    disjoint ``hex_width``-hex-char slice of its md5 — k independent
    hash functions into a fixed m = 16^hex_width-bit space, replayable
    in SQL as ``('0x' || substr(md5(g), 1 + hw*j, hw))::BIGINT``.
    A production deployment sizes m to bits-per-element; here m is
    picked by slice width (one md5 per gram, no second hash pass):
    hex_width 5 -> 2^20 bits (128 KiB, the low-false-positive default),
    4 -> 2^16 (8 KiB — small enough that false positives appear at
    test scale, which is exactly what the oracle-replayed query uses
    to pin the false-positive behavior itself)."""
    if not (3 <= hex_width <= 8):
        raise ValueError(f"hex_width must be in [3, 8], got {hex_width}")
    if not (1 <= k <= bloom_max_k(hex_width)):
        raise ValueError(
            f"k must be in [1, {bloom_max_k(hex_width)}] at width "
            f"{hex_width}, got {k}"
        )
    return _positions_from_md5(F.md5(gram), k, hex_width)


def _positions_from_md5(md5_col: Column, k: int, hex_width: int) -> Column:
    """k bit positions from an ALREADY-COMPUTED md5 hex string — split
    out so array-lambda callers hash each gram exactly once (inside a
    ``transform`` lambda expressions run interpreted, without codegen's
    common-subexpression elimination, so an inlined ``md5(g)`` per
    slice would really execute k times — measured ~2x on the corpus
    side of the Bloom flag at the 10x corpus).

    long, not int: an 8-hex slice reaches 16^8-1, past int32 (ANSI
    would throw on roughly half of all grams at hex_width=8)."""
    return F.array(
        *[
            F.conv(
                F.substring(md5_col, 1 + hex_width * j, hex_width),
                16,
                10,
            ).cast("long")
            for j in range(k)
        ]
    )


def _distinct_grams(df: DataFrame, text_col: str, n: int) -> Column:
    """Distinct word n-grams, the ``corpus.ngram_hashes`` construction
    (shingles keep the sub-n-token remainder gram — lockstep with the
    contamination oracles). NULL text coalesces to "" so the gram
    array is never NULL (a NULL array would make size()/flatten() NULL
    and crash the Arrow batch downstream)."""
    del df  # construction depends only on the column
    return F.array_distinct(
        shingles(F.coalesce(F.col(text_col), F.lit("")), n)
    )


def build_bloom_bitset(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    k: int = 2,
    hex_width: int = BLOOM_HEX_WIDTH,
) -> np.ndarray:
    """Build the benchmark's Bloom bitset: every distinct word
    ``n``-gram of ``benchmark`` sets its ``k`` md5-slice bit positions
    in a packed 16^hex_width-bit numpy array (128 KiB at the default
    width 5).

    Driver contract: the ONLY collect is the distinct POSITION list —
    bounded by min(k * distinct benchmark grams, m) ints. The
    benchmark is the eval set, small by definition (the same size
    argument as ``contaminated_ids``' test side); the corpus side
    never reaches the driver.
    """
    grams = benchmark.select(
        F.explode_outer(_distinct_grams(benchmark, text_col, n)).alias("__g")
    ).filter(F.col("__g").isNotNull())
    pos_rows = (  # distinct bit positions: at most the bitset's 16**hex_width
        grams.select(
            # explode_outer per the computed-array rule (NOTES.md
            # InferFiltersFromGenerate trap: a non-outer explode over a
            # computed array re-inlines the k md5 slices below the
            # Generate, computing them twice)
            F.explode_outer(
                bloom_positions(F.col("__g"), k, hex_width)
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .distinct()
        .collect()
    )
    bits = np.zeros(16**hex_width // 8, dtype=np.uint8)
    for r in pos_rows:
        p = r["p"]
        bits[p >> 3] |= np.uint8(1 << (p & 7))
    return bits


def bloom_flag_contaminated(
    corpus: DataFrame,
    bitset: np.ndarray,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    k: int = 2,
    hex_width: int = BLOOM_HEX_WIDTH,
) -> DataFrame:
    """Flag corpus documents whose word ``n``-grams hit the benchmark
    Bloom filter: returns (id_col, n_grams, n_bloom_hits,
    bloom_contaminated) — a gram "hits" when ALL ``k`` of its bit
    positions are set, a document is contaminated when any gram hits.
    Supersets the exact join's answer (Bloom has false positives,
    never false negatives); the deterministic md5 positions mean the
    false positives themselves are reproducible, and the oracle
    replays them.

    Scale (the reason this exists next to ``contaminated_ids``): the
    corpus side is NARROW — gram construction, md5 positions and the
    bit test against the BROADCAST <=128 KiB bitset all run inside ONE
    Arrow-batched pass (``_bloom_flag_fused``), and the output is one
    row per input row. No shuffle of corpus grams, no join; the
    exact-join form shuffles O(corpus x grams/doc) rows. At 100 TB the
    bitset rides the broadcast once per executor and contamination
    becomes a map-only pass. Text crosses the Arrow boundary once: the
    expression spelling's interpreted shingle/md5 ``transform`` chains
    carried most of the corpus-side CPU.
    ``test_bloom_flag_kernel_matches_jvm`` pins parity against that
    spelling (``tests/jvm_reference.py``).
    """
    expected = 16**hex_width // 8
    if bitset.dtype != np.uint8 or bitset.size != expected:
        raise ValueError(
            f"bitset must be uint8[{expected}] for hex_width {hex_width}, "
            f"got {bitset.dtype}[{bitset.size}]"
        )
    bc = corpus.sparkSession.sparkContext.broadcast(bitset.tobytes())
    return _bloom_flag_fused(corpus, bc, id_col, text_col, n, k, hex_width)


def _bloom_flag_fused(
    corpus: DataFrame,
    bc,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    hex_width: int,
) -> DataFrame:
    """``bloom_flag_contaminated``'s fused form: tokenize → shingle →
    first-occurrence distinct → md5 positions → vectorized bit test,
    all inside ONE ``mapInArrow`` pass over (id, text). Gram strings
    and hashes are byte-identical to the JVM-expression spelling in
    ``tests/jvm_reference.py`` (``bloom_flag_contaminated``, the
    parity reference; ``re.ASCII`` ``\\s+`` split == Java ``\\s``,
    NULL text coalesces to the single empty gram), whose bit test runs
    in plain Python over the collected gram positions."""
    compact = k * hex_width <= 15
    prepared = corpus.select(F.col(id_col), F.col(text_col))
    id_field = prepared.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, n_grams int, "
        "n_bloom_hits int, bloom_contaminated int"
    )
    nn, kk, hw = int(n), int(k), int(hex_width)

    def _flag(batches):
        import hashlib as _hl  # executor-side
        import re as _re

        import pyarrow as pa

        sre = _re.compile(r"\s+", _re.ASCII)
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        mask = 16**hw - 1
        shifts = np.array(
            [4 * (15 - hw * (j + 1)) for j in range(kk)], dtype=np.int64
        )
        memo: dict[str, object] = {}

        def positions(g: str):
            v = memo.get(g)
            if v is None:
                h = _hl.md5(g.encode("utf-8")).hexdigest()
                if compact:
                    v = int(h[:15], 16)
                else:
                    v = [int(h[hw * j : hw * (j + 1)], 16) for j in range(kk)]
                memo[g] = v
            return v

        for rb in batches:
            texts = rb.column(rb.schema.get_field_index(text_col)).to_pylist()
            flat: list[int] = []
            lens = np.empty(len(texts), dtype=np.int64)
            for ridx, txt in enumerate(texts):
                if not isinstance(txt, str):
                    txt = ""  # the JVM coalesce(text, '')
                toks = [t for t in sre.split(txt.lower()) if t]
                seen: set[str] = set()
                for i in range(max(len(toks) - nn, 0) + 1):
                    g = " ".join(toks[i : i + nn])
                    if g in seen:
                        continue
                    seen.add(g)
                    p = positions(g)
                    if compact:
                        flat.append(p)
                    else:
                        flat.extend(p)
                lens[ridx] = len(seen)
            arr = np.asarray(flat, dtype=np.int64)
            if compact:
                matrix = (arr[:, None] >> shifts[None, :]) & mask
            else:
                matrix = arr.reshape(-1, kk)
            set_ = (
                bits[matrix >> 3] & (1 << (matrix & 7)).astype(np.uint8)
            ) != 0
            gram_hits = set_.all(axis=1)
            bounds = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=bounds[1:])
            csum = np.zeros(gram_hits.size + 1, dtype=np.int64)
            np.cumsum(gram_hits, out=csum[1:])
            hits = (csum[bounds[1:]] - csum[bounds[:-1]]).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index(id_col)),
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    pa.array(hits, type=pa.int32()),
                    pa.array((hits > 0).astype(np.int32), type=pa.int32()),
                ],
                names=[id_col, "n_grams", "n_bloom_hits", "bloom_contaminated"],
            )

    return prepared.mapInArrow(_flag, schema=out_schema)
