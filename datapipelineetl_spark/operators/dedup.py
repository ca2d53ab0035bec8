"""Deduplication operators: exact, fingerprint, MinHash+LSH (SURVEY.md §2.11).

The scale ladder, cheapest first:

1. **Exact** — ``dropDuplicates`` / md5-fingerprint groupBy: one shuffle on
   the hash, O(n).
2. **Canonicalized exact** — token-set fingerprint (text.py): catches
   order/repetition-invariant duplicates, still O(n).
3. **MinHash + LSH banding** — near-duplicates at a Jaccard threshold:
   signatures are per-row array math (narrow); banding turns the O(n²)
   similarity join into equi-joins on (band, band_hash) buckets, so the
   shuffle volume is O(n × bands) and the pairwise work is confined to
   bucket collisions. This is the standard web-scale near-dup design
   (Broder's shingling/MinHash as used in MapReduce dedup pipelines).

All hash math is the md5-based 60-bit family from text.py, reproducible in
ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelineetl_spark.operators.text import token_hash60, tokens

# Fixed affine hash family h_i(x) = (a_i * (x mod P) + b_i) mod P over the
# 60-bit token hash. P = 2^31 - 1 (Mersenne prime); coefficients are small
# fixed odd constants so a_i * (x mod P) stays well under 2^63.
MINHASH_P = (1 << 31) - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (7, 3), (11, 5), (13, 17), (19, 23), (29, 31), (37, 41), (43, 47), (53, 59),
    (61, 67), (71, 73), (79, 83), (89, 97), (101, 103), (107, 109), (113, 127), (131, 137),
]


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    out: str = "minhash",
    num_hashes: int = 16,
) -> DataFrame:
    """Per-row MinHash signature (array<long>, length ``num_hashes``).

    sig_i = min over distinct tokens of (a_i*(h60(tok) mod P)+b_i) mod P.
    Narrow, no shuffle; O(tokens × num_hashes) per row, in ONE
    Arrow-batched pass — tokenize (``str.lower()`` + the
    ``re.ASCII``-pinned ``\\s+`` split, the Java-``\\s`` parity the
    ngram/BPE kernels established), md5-60 per distinct token, then all
    ``num_hashes`` affine rows as one vectorized int64 min (a·h+b < 2³⁹
    — exact). The expression spelling's ``transform``/``array_min``
    chains never enter whole-stage codegen (measured 2.8 s vs 0.16 s
    for the bare token split on the sf0.1 corpus);
    ``test_minhash_signature_kernel_matches_jvm`` pins parity against it
    (``tests/jvm_reference.py``). Marked non-deterministic so an
    inferred filter cannot duplicate the ArrowEvalPython node (the
    seq-kernel discipline).
    """
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"num_hashes ≤ {len(MINHASH_COEFFS)}")
    return df.withColumn(out, _minhash_kernel_udf(num_hashes)(F.col(text_col)))


def _minhash_kernel_udf(num_hashes: int):
    """Arrow-batched BIT-EXACT MinHash signatures — the values of the
    JVM-expression spelling in ``tests/jvm_reference.py``
    (``minhash_signature``) at kernel speed (round 16). Tokenization is
    ``str.lower()`` + ``re.ASCII``-pinned ``\\s+`` split + drop-empty
    (byte-equal tokens to ``F.split(F.lower(c), TOKEN_SPLIT_RE)`` with
    the ``!= ''`` filter — the parity the ngram kernel pinned); the
    token hash is the same md5-prefix 60-bit integer, and the affine
    rows (aᵢ·(h mod P)+bᵢ) mod P are exact in int64 (h mod P < 2³¹,
    aᵢ ≤ 131 → product < 2³⁹). NULL text and zero-token docs both
    produce that reference's ``[NULL] × num_hashes`` (F.array of NULL
    array_mins, never a NULL array). Per-task md5 memo: token hashes
    repeat across documents, so each distinct token is hashed once per
    task, not once per occurrence."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    coeffs = MINHASH_COEFFS[:num_hashes]
    a = np.asarray([c[0] for c in coeffs], dtype=np.int64)[:, None]
    b = np.asarray([c[1] for c in coeffs], dtype=np.int64)[:, None]
    p = MINHASH_P
    nh = int(num_hashes)

    import hashlib as _hl  # noqa: PLC0415
    import re as _re  # noqa: PLC0415

    sre = _re.compile(r"\s+", _re.ASCII)
    memo: dict[str, int] = {}
    nulls: list[int | None] = [None] * nh

    def _h60(tok: str) -> int:
        v = memo.get(tok)
        if v is None:
            v = int(_hl.md5(tok.encode("utf-8")).hexdigest()[:15], 16) % p
            memo[tok] = v
        return v

    def _sig(s):
        out: list[list[int | None]] = []
        for txt in s.tolist():
            if not isinstance(txt, str):
                out.append(nulls)
                continue
            toks = {t for t in sre.split(txt.lower()) if t}
            if not toks:
                out.append(nulls)
                continue
            hs = np.fromiter((_h60(t) for t in toks), dtype=np.int64, count=len(toks))
            out.append(((a * hs + b) % p).min(axis=1).tolist())
        return pd.Series(out)

    # no type hints on _sig: `from __future__ import annotations`
    # stringifies them before pandas_udf can inspect them (module
    # convention, see similarity._lsh_signatures_pandas)
    return pandas_udf(_sig, "array<long>").asNondeterministic()


def band_keys(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, band_key) rows from a MinHash signature column — the
    LSH banding step shared by the batch pair join
    (``lsh_candidate_pairs``) and the streaming dedup's persisted state
    (``streaming.runner.streaming_near_dup_filter``): two docs are
    near-dup CANDIDATES iff they share a (band, band_key). Narrow
    (slice + md5 + posexplode), no shuffle."""
    band_arr = F.array(
        *[
            F.md5(
                F.array_join(
                    F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                    ",",
                )
            )
            for b in range(bands)
        ]
    )
    return df.select(F.col(id_col), F.posexplode(band_arr).alias("band", "band_key"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    sig_len: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """LSH banding: docs sharing ≥1 identical signature band become
    candidate pairs (id_a < id_b, distinct). ``materialize=True``
    localCheckpoints the banded (id, band, band_key) rows once — the
    self-join and the bucket-size aggregate otherwise re-execute the
    signature pipeline per reference (same rationale as
    ``fingerprint_collision_pairs``). Default False keeps the operator
    fully lazy (plan construction runs no job); opt in from the query
    layer where the reuse is known to pay.

    ``bands × rows_per_band`` must not exceed the signature length:
    F.slice past the array end yields identical short/empty trailing
    bands for EVERY doc, hashing all rows into one bucket (quadratic
    blowup + wrong candidates when verify is skipped). Pass ``sig_len``
    (callers that built the signature know it) for a free eager check;
    without it the first row's actual length is probed (one tiny job).

    Plan shape: posexplode bands → shuffle on (band, band_key) — the only
    wide step, volume O(n×bands) — then a bucket-local self-join. Hot
    buckets (boilerplate docs) are the skew risk at 100 TB: a bucket of K
    members emits K² pairs. ``max_bucket_size`` drops buckets larger than
    the cap (they are boilerplate clusters, not near-dup candidates worth
    pairwise verification — the standard web-dedup mitigation); None keeps
    candidate semantics exact.
    """
    if sig_len is None:
        # Probe rows with an actual signature: F.size is -1 on null, and a
        # null first row would otherwise raise a misleading "exceeds
        # signature length -1" below. Negative/absent probe → skip check.
        probe = (  # one row
            df.filter(F.col(sig_col).isNotNull())
            .select(F.size(F.col(sig_col)).alias("n"))
            .first()
        )
        sig_len = probe.n if probe is not None and probe.n >= 0 else None
    if sig_len is not None and bands * rows_per_band > sig_len:
        raise ValueError(
            f"bands×rows_per_band = {bands}×{rows_per_band} exceeds signature length {sig_len}"
        )
    banded = band_keys(df, id_col, sig_col, bands, rows_per_band)
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        # one extra partial-agg shuffle on the same key the join needs
        sizes = banded.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("__bsz"))
        banded = (
            banded.join(sizes, ["band", "band_key"])
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def fingerprint_collision_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "winnow_fps",
    max_bucket_size: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Candidate pairs from any array-of-fingerprints column (winnowing
    selected hashes, shingle hash sets, …): docs sharing ≥1 fingerprint
    pair up, with ``n_shared`` = number of shared fingerprints (the
    overlap evidence a verify stage would rank by). Same bucketed shape
    as ``lsh_candidate_pairs`` — explode → equi-join on the fingerprint —
    so the shuffle volume is O(n × fps/doc), never pairwise.

    ``max_bucket_size`` drops fingerprints shared by more than that many
    docs before pairing: a fingerprint in K docs emits K² pairs, and
    ubiquitous fingerprints (boilerplate k-grams) are evidence of
    template text, not near-duplication — the same skew mitigation, same
    caveat as ``lsh_candidate_pairs``.

    Plan subtlety: ``explode_outer`` + post-Generate null filter, NOT
    plain ``explode``. For a non-outer explode the optimizer
    (InferFiltersFromGenerate) adds a ``size(arr) > 0`` filter and
    predicate pushdown substitutes the fingerprint EXPRESSION into it —
    for winnowing that re-inlines the O(len·k) hash array inside its own
    window-min lambda, resurrecting the O(len²·k) blowup that
    text.with_winnowing_fingerprints materializes away (measured 36×:
    4.4s → 157s on the 500-doc fixture). ``explode_outer`` infers no
    such filter; the null filter above the Generate touches only the
    generated column and costs nothing.

    ``materialize=True`` localCheckpoints the exploded (id, fingerprint)
    rows once: the pair join references that subtree up to 4×
    (bucket-size aggregate + both join sides), each re-executing the
    full fingerprint computation — the subtrees prune columns
    differently, so exchange reuse never canonicalizes them equal. The
    checkpointed form is narrow (two columns) and the same
    persist-the-reused-intermediate discipline as ``cluster_pairs``.
    Measured: break-even on the 5k-doc fixture (recompute ≈ checkpoint
    cost), 2.1× at 50k docs (18.2s → 8.8s warm) — the win grows with
    per-row fingerprint cost, which is the 100 TB direction. Costs one
    eager job at CALL time, which breaks the lazy-DataFrame contract —
    hence default False; queries that reuse the subtree opt in.
    """
    fps = df.select(F.col(id_col), F.explode_outer(F.col(fp_col)).alias("__fp")).filter(
        F.col("__fp").isNotNull()
    )
    if materialize:
        fps = fps.localCheckpoint(eager=True)
    if max_bucket_size is not None:
        # one extra partial-agg shuffle on the same key the join needs
        sizes = (
            fps.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
        )
        fps = fps.join(sizes.select("__fp"), "__fp")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__fp") == F.col("b.__fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Exact Jaccard over two token-set columns."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(F.array_union(tokens_a, tokens_b))
    return inter / F.greatest(union, F.lit(1))


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    verify: bool = True,
    max_bucket_size: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) for candidate pairs whose TRUE Jaccard ≥
    ``threshold``. With b=4/r=4 the LSH S-curve crosses ~0.71, so recall at
    threshold 0.7+ is high while the candidate set stays small; the verify
    join recomputes exact Jaccard only for candidates (broadcasting the
    token sets when the doc table is dimension-sized, else a key shuffle).
    ``materialize`` forwards to ``lsh_candidate_pairs`` (one eager job).
    """
    sigs = minhash_signature(df, text_col, "minhash", num_hashes)
    cands = lsh_candidate_pairs(
        sigs, id_col, "minhash", bands, rows_per_band, max_bucket_size,
        sig_len=num_hashes, materialize=materialize,
    )
    if not verify:
        return cands
    toksets = df.select(
        F.col(id_col), tokens(text_col, distinct=True).alias("toks")
    )
    out = (
        cands.join(toksets.withColumnsRenamed({id_col: "id_a", "toks": "toks_a"}), "id_a")
        .join(toksets.withColumnsRenamed({id_col: "id_b", "toks": "toks_b"}), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("toks_a"), F.col("toks_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# cluster_pairs' contraction ladder: each level repartitions the
# (node, root) mapping this many times narrower
_FAN_IN = 64


def cluster_pairs(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = the component's minimum doc id. The final step of
    every dedup pipeline: pairs say "these two match"; clusters say "keep
    one of each group".

    Two-phase local contraction — the standard distributed-CC shape:
    per-partition union-find inside an Arrow-batched ``mapInPandas``,
    emitting each node's partition-local min root as a contracted edge
    list, then a ``_FAN_IN``-ary (64) repartition ladder of the same
    kernel down to one partition. ONE lazy plan, ⌈log_64(partitions)⌉
    small shuffles of (node, root) rows, ZERO driver-side jobs at call
    time — where iterative min-label propagation pays an eager edge
    checkpoint plus one probe job per round (measured 4.7 s warm → 0.5 s
    on the sf0.1 capped-LSH pair graph, 5.4k pairs). Min-id labeling is
    a property of the graph, not the algorithm (parity with that
    propagation: ``test_cluster_pairs_contract_matches_iterate``).

    Memory bound: the last task holds the contracted mapping — one entry
    per node that appears in any pair (the CANDIDATE set, orders of
    magnitude smaller than the corpus; the upstream bucket caps bound
    it). There is no fallback: a size probe cannot pick one without
    cost — at sf0.01 plan statistics estimate 389 MB for q_dedup_clusters'
    47-node pair graph and 2.1×10¹⁶ B for q_dedup_clusters_lsh's
    297-node one, and a count would run the upstream pair pipeline a
    second time.

    Edge values: a self-pair only adds its node; duplicate and
    reversed pairs change nothing; a NULL (or NaN) endpoint is never a
    node, so a half-NULL pair contributes only its other endpoint; ids
    need only be comparable (strings cluster too).
    """
    idt = pairs.schema[id_a].dataType.simpleString()
    schema = f"`__cp_a` {idt}, `__cp_b` {idt}"
    kernel = _union_find_kernel("__cp_a", "__cp_b")
    m = pairs.select(
        F.col(id_a).alias("__cp_a"), F.col(id_b).alias("__cp_b")
    ).mapInPandas(kernel, schema)
    # physical planning only (no job): how many partitions phase 1 left
    p = m.rdd.getNumPartitions()
    while p > 1:
        p = max(1, p // _FAN_IN)
        m = m.repartition(p).mapInPandas(kernel, schema)
    return m.select(
        F.col("__cp_a").alias("doc_id"), F.col("__cp_b").alias("cluster_id")
    )


def _union_find_kernel(a_col: str, b_col: str):
    """mapInPandas generator: union-find over one partition's edge rows
    (NULL endpoints skipped as nodes — a half-NULL pair contributes its
    non-NULL endpoint as an isolated node), emitting every seen node's
    partition-local component minimum as (node, root) rows. Union keeps
    the SMALLER value as root, finds use iterative path compression, so
    each emitted root is exactly min(component ∩ partition) — feeding
    the same kernel at the next fan-in level converges to the global
    min-id labeling."""
    import pandas as pd  # noqa: PLC0415

    def run(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] is not r and parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            av, bv = pdf[a_col].tolist(), pdf[b_col].tolist()
            for a, b in zip(av, bv):
                a_ok = a is not None and a == a
                b_ok = b is not None and b == b
                if a_ok and a not in parent:
                    parent[a] = a
                if b_ok and b not in parent:
                    parent[b] = b
                if not (a_ok and b_ok):
                    continue
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = list(parent)
        yield pd.DataFrame({a_col: nodes, b_col: [find(n) for n in nodes]})

    return run


def dedup_by_fingerprint(
    df: DataFrame, fingerprint_col: str, keep_cols: Sequence[str], order_col: str
) -> DataFrame:
    """Collapse duplicate groups to one representative (min ``order_col``)
    + group size. One partial-aggregated shuffle on the fingerprint."""
    return (
        df.groupBy(fingerprint_col)
        .agg(
            F.min(order_col).alias(order_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(fingerprint_col, order_col, "n_copies")
    )


def semantic_dupes(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    num_planes: int = 6,
    num_tables: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-space near-duplicate DROP LIST (the SemDeDup-style
    semantic dedup pass, Abbas et al. 2023): documents whose embeddings
    sit within cosine ``threshold`` of each other form components, and
    every member except the component's minimum-id representative is
    listed for removal. The embedding twin of the MinHash ladder →
    ``cluster_pairs`` → keep-representative pipeline, for duplicates
    that share no surface n-grams (translations, templated rewrites,
    near-paraphrases).

    ``exact=True`` uses the O(n²) ``cosine_pairs`` baseline (fixture
    scale / oracle parity); the default routes through the LSH-bucketed
    ``lsh_cosine_near_pairs`` — same output contract, candidate-pruned,
    with the usual ``max_bucket_size`` skew cap.

    Tune (planes, tables) to the THRESHOLD via the S-curve
    recall = 1 − (1 − p^planes)^tables with p = 1 − arccos(θ)/π.
    The (6, 8) default gives ≥0.99 pair recall in the θ ≥ 0.9 regime
    semantic dedup actually targets (p ≈ 0.9), degrading to ~0.5 at a
    brutal θ = 0.45 on near-uniform vectors — the measured table
    (SCALING.md round 6: 8/2 → 0.04, 8/4 → 0.13, 6/8 → 0.52,
    4/8 → 0.83 recall at θ=0.45, zero false drops in every config) is
    the honest fixture-side picture; fewer planes / more tables buys
    recall with more candidate pairs.

    Returns one column ``id_col`` (distinct ids to drop); anti-join it
    against the corpus.

    Scale: pairs via one Arrow signature pass + (table, sig) equi-join
    (see lsh_cosine_near_pairs); components via the union-find
    contraction ladder (see cluster_pairs) — one lazy plan, no driver
    job.
    """
    from datapipelineetl_spark.operators import similarity  # noqa: PLC0415

    if exact:
        pairs = similarity.cosine_pairs(df, threshold, id_col=id_col, vec_col=vec_col)
    else:
        pairs = similarity.lsh_cosine_near_pairs(
            df,
            threshold,
            num_planes=num_planes,
            num_tables=num_tables,
            id_col=id_col,
            vec_col=vec_col,
            max_bucket_size=max_bucket_size,
        )
    clusters = cluster_pairs(pairs)
    return (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-document EXACT duplicated-span detection (the
    substring-level dedup of "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2021 — applied at token-window
    granularity): every ``n``-token window whose token content also
    occurs EARLIER in the global ``(id, start)`` order is flagged.
    Returns ``(id, start)`` rows — ``start`` is the 0-based token
    offset of a duplicated window; each distinct window content keeps
    exactly one unflagged first occurrence corpus-wide (repeats inside
    a single document flag too).

    Use the annotations to audit boilerplate-ish spans, or feed
    ``remove_duplicate_spans`` to cut them from the token stream.

    Scale: O(total windows) rows through two shuffles — one partial-agg
    groupBy on the 60-bit window hash for the first-occurrence argmin,
    one hash-join of occurrences back to their gram's argmin. No
    pairwise blowup: a window repeated a million times costs a million
    JOIN rows, never a million² (contrast candidate-pair LSH).

    The window hashes are column expressions: a transform over
    ``sequence`` + ``posexplode_outer`` (_outer per the
    InferFiltersFromGenerate rule, NOTES.md — the window array is
    computed, and a non-outer Generate would re-inline it below the
    inferred size() filter). A mapInPandas kernel emitting the same
    (id, start, hash) rows measured slower on the q_dedup_spans body
    (2.50 vs 2.41 s): the rows are TOKEN-cardinality, so the Arrow
    transfer back to the JVM eats the interpreted-HOF savings.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= n
    )
    win_hashes = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - n),
        lambda i: token_hash60(
            F.array_join(F.slice(F.col("__toks"), i + 1, n), " ")
        ),
    )
    wins = (
        base.select(
            F.col(id_col), F.posexplode_outer(win_hashes).alias("start", "__gh")
        )
        .filter(F.col("__gh").isNotNull())
    )
    first = wins.groupBy("__gh").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("start").alias("s"))).alias(
            "__first"
        )
    )
    return (
        wins.join(first, "__gh")
        .filter(
            (F.col(id_col) != F.col("__first.i"))
            | (F.col("start") != F.col("__first.s"))
        )
        .select(id_col, "start")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Rewrite each document's TOKEN stream with every token covered by
    any duplicated ``n``-token window (``duplicate_spans``) removed —
    overlapping flagged windows merge into one cut, and each repeated
    span survives only at its corpus-wide first occurrence.

    The rewrite is TOKEN-LEVEL: output text is the kept tokens joined
    with single spaces in original order, which is lowered and
    whitespace-normalized like every ``tokens()`` consumer (the
    standard token-stream form of this pass). When byte fidelity
    matters, use ``duplicate_spans``' annotations and cut upstream.
    Every input row returns (never silently dropped) WITH every other
    input column intact (source, lang, metadata — only ``text_col`` is
    rewritten): fully-duplicated docs come back empty, sub-``n``-token
    and NULL docs come back as their normalized token stream.

    Scale: the detection cost (above) + one positions explode and one
    groupBy(doc) in-aggregate ordered rebuild — the
    remove_boilerplate_lines rebuild shape, at token granularity.
    """
    spans = duplicate_spans(df, id_col, text_col, n)
    masked = (
        spans.select(
            F.col(id_col),
            F.explode_outer(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("__pos"),
        )
        .distinct()
    )
    toks = (
        df.select(
            F.col(id_col),
            F.posexplode_outer(
                F.coalesce(tokens(text_col), F.array())
            ).alias("__pos", "__tok"),
        )
        .filter(F.col("__tok").isNotNull())
    )
    kept = toks.join(masked, [id_col, "__pos"], "anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias(text_col)
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .fillna({text_col: ""})
    )


def gram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    dp: int = 6,
    materialize: bool = False,
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word ``n``-grams that appear in NO other document — the
    memorization-risk / boilerplate mirror image of the contamination
    join (novelty 0 = every shingle exists elsewhere; 1 = all original
    content). Returns (id_col, n_grams, n_common, novelty) for every
    input row. ZERO-token docs (empty/whitespace/NULL text) get zero
    counts and a NULL novelty (their phantom empty gram is dropped —
    ``ngram_hashes(drop_empty=True)``), never a dropped row; a doc
    shorter than ``n`` tokens contributes its single shorter-than-n
    shingle (real content, counted).

    Scale: the gram table (one narrow shingle/hash pass,
    ``corpus.ngram_hashes``) feeds a doc-frequency partial agg and a
    join back onto itself — all three shuffles are bounded by the
    DISTINCT-gram table, never pairwise; the final fold is one
    partial-agg groupBy(doc). Same md5-60 hash caveat as the
    contamination family: a collision would overcount sharing, and the
    oracle (which joins on gram TEXT) would expose it.
    """
    from datapipelineetl_spark.operators import corpus as _corpus  # noqa: PLC0415 — cycle guard

    g = _corpus.ngram_hashes(
        df, id_col=id_col, text_col=text_col, n=n, drop_empty=True
    )
    if materialize:
        # the gram table feeds the frequency agg AND the join side —
        # un-materialized, each reference re-runs the interpreted
        # shingle+md5 construction (the NOTES.md no-shared-subexpression
        # rule); opt-in to keep the operator lazy by default
        g = g.localCheckpoint(eager=True)
    freq = g.groupBy("__g").agg(F.count(F.lit(1)).cast("long").alias("__ndocs"))
    per_doc = (
        g.join(freq, "__g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__ndocs") >= 2).cast("long")).alias("n_common"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    (F.col("n_grams") - F.col("n_common"))
                    / F.col("n_grams").cast("double"),
                    dp,
                ),
            ).alias("novelty"),
        )
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_bucket_size: int | None = None,
    dp: int = 6,
    materialize: bool = False,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: for documents sharing ≥1
    distinct word ``n``-gram, ``containment(A in B) = |grams(A) ∩
    grams(B)| / |grams(A)|`` — the Broder measure Jaccard-based
    near-dup misses when one document EMBEDS another (full-quote
    inclusion, template + payload): a short doc fully contained in a
    long one has tiny Jaccard but containment 1.0. Returns (id_a,
    id_b, n_shared, containment_a, containment_b) for pairs where
    EITHER direction reaches ``threshold``; id_a < id_b, both
    directional scores reported, rounded to ``dp`` (single int/int
    divisions — deterministic cross-engine). Zero-token documents
    share NO grams (their phantom empty shingle is dropped,
    ``ngram_hashes(drop_empty=True)``) — without that, every pair of
    empty docs would report containment 1.0.

    Scale: the ``fingerprint_collision_pairs`` shape — gram-hash
    equi-join + per-pair count, O(corpus × grams/doc) shuffle, never
    |corpus|²; ``max_bucket_size`` drops boilerplate grams present in
    more than that many docs before pairing (the standard skew cap —
    exactly the grams whose pairs would be boilerplate matches, not
    containment evidence).

    Denominator semantics under the cap (ADVICE r9): per-doc gram
    sizes are computed from the FULL distinct-gram set, BEFORE the
    ``max_bucket_size`` filter — containment stays "fraction of the
    doc's actual grams found in the other doc", while the cap only
    removes boilerplate grams from the EVIDENCE (``n_shared``). The
    deliberate consequence: a short doc embedded in a long one but
    sharing mostly capped boilerplate reports containment < 1.0 — the
    cap is saying those shared grams are not meaningful overlap, and
    the score agrees. Capped-relative containment (sizes over the
    surviving grams) would instead report 1.0 for a pair sharing only
    two rare grams out of a thousand boilerplate ones — a measure of
    the cap, not the documents.
    """
    from datapipelineetl_spark.operators import corpus as _corpus  # noqa: PLC0415 — cycle guard

    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    g = _corpus.ngram_hashes(
        df, id_col=id_col, text_col=text_col, n=n, drop_empty=True
    )
    if materialize:
        # referenced by sizes (twice, via sa/sb) + both join sides
        # (+ the bucket cap): materialize the narrow (id, gram-hash)
        # rows once instead of re-running the interpreted shingle+md5
        # pass per reference. sizes itself stays LAZY — it is a
        # doc-cardinality table (billions of rows at corpus scale, not
        # checkpoint material), and each reference is one cheap
        # partial-agg over the materialized gram rows.
        g = g.localCheckpoint(eager=True)
    sizes = g.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    if max_bucket_size is not None:
        keep = (
            g.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .select("__g")
        )
        g = g.join(keep, "__g")
    a = g.select(F.col(id_col).alias("id_a"), "__g")
    b = g.select(F.col(id_col).alias("id_b"), "__g")
    shared = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb"))
    # sizes is doc-cardinality — NOT force-broadcast (at corpus scale it
    # is billions of rows); AQE picks broadcast when it actually fits,
    # else these are id-keyed shuffle joins bounded by the PAIR table
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("__sza").cast("double"), dp).alias(
                "containment_a"
            ),
            F.round(F.col("n_shared") / F.col("__szb").cast("double"), dp).alias(
                "containment_b"
            ),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )
