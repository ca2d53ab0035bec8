"""Corpus-preparation operators (SURVEY.md §2.11 extensions, round 5).

The last-mile operations between a deduplicated document store and a
training run: deterministic sampling, stratified sampling, weighted
corpus mixing, sequence packing, PII redaction, and the one-call
``prepare_corpus`` composition over the existing cleaning/dedup ladder.

Design rules shared with the rest of §2.11:

- **Deterministic, RNG-free.** Sampling gates use the engine's md5-based
  60-bit hash (``text.token_hash60``) so a run is reproducible across
  executors, retries, AND engines — the same gate replays in ANSI SQL
  (DuckDB oracle) as ``('0x' || substr(md5(x),1,15))::BIGINT``. Spark's
  ``df.sample`` is per-partition-seeded (result changes with the split
  layout), which is exactly what a reproducible training corpus cannot
  have.
- **Narrow where possible.** Sampling/redaction are pure column maps (no
  shuffle); mixing is a union of narrow filters; packing shuffles ONCE
  on the shard key.
- **Driver touches metadata only** (per-source counts in ``mix_corpora``
  — one partial-agg aggregate each, same class as IVF's centroid fetch).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import dedup, text

# Sampling gates quantize fractions to millionths: hash mod 1e6 < frac*1e6.
# 60-bit md5 prefix mod 1e6 is uniform to ~1e-12 bias — far below the
# sampling noise at any corpus size.
_GATE = 1_000_000


_NULL_KEY = "__null__"


def _hash_gate(key: Column, salt: str) -> Column:
    """Uniform [0, 1e6) bucket from a row key + salt — the reproducible
    coin every sampler here flips. Changing ``salt`` draws an independent
    sample (independent ≠ disjoint — holdout splits use the
    band-partitioned ``split_corpus``, not two salted samples). NULL keys
    coalesce to a sentinel so they get a deterministic coin like any
    other value (a null gate would null the filter predicate and SILENTLY
    drop those rows even at fraction 1.0); replay in SQL as
    ``COALESCE(key::VARCHAR, '__null__')``."""
    k = F.coalesce(key.cast("string"), F.lit(_NULL_KEY))
    return F.pmod(text.token_hash60(F.concat(k, F.lit(salt))), F.lit(_GATE))


def _gate_threshold(fraction: float) -> int:
    """fraction → integer gate threshold, rounding half AWAY FROM ZERO —
    matching SQL ROUND() (the oracle replay), not Python round()'s
    banker's rounding, which diverges on exact half-millionths."""
    return int(fraction * _GATE + 0.5)


def sample_fraction(
    df: DataFrame,
    fraction: float,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli-style sample: keeps a row iff
    ``hash(key, salt) mod 1e6 < fraction × 1e6``. Same key + salt →
    same decision everywhere, forever; different salts → independent
    samples. NOTE: independent ≠ disjoint — two sample calls can
    overlap; a train/val/test HOLDOUT needs the band-partitioned
    ``split_corpus`` below.

    Scale: a narrow filter — no shuffle, no RNG state, pushes down to
    the scan when ``key_col`` is a stored column.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_hash_gate(F.col(key_col), salt) < _gate_threshold(fraction))


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — THE training-data rebalance
    op (e.g. keep 100% of high-quality docs, 10% of medium, drop low):
    each row's keep-threshold comes from its stratum value, the coin is
    the same reproducible hash gate as ``sample_fraction``.

    Scale: the fraction lookup compiles to a CASE chain over a
    (small, driver-known) strata map — still a narrow filter, no join,
    no shuffle.
    """
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    thr: Column = F.lit(_gate_threshold(default_fraction))
    for s, f in fractions.items():
        thr = F.when(F.col(strata_col) == s, F.lit(_gate_threshold(f))).otherwise(thr)
    return df.filter(_hash_gate(F.col(key_col), salt) < thr)


def mix_corpora(
    sources: Mapping[str, DataFrame],
    weights: Mapping[str, float],
    key_col: str,
    source_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Weighted corpus mixing: unions the sources down-sampled so their
    row proportions match ``weights`` (the data-mixture step of every
    pretraining pipeline — e.g. web 0.6 / code 0.3 / reference 0.1).

    The limiting source (largest weight-to-size ratio) is kept whole and
    every other source down-samples to match — mixing never up-samples
    (duplicating rows would re-introduce the duplicates dedup just
    removed; repeat-epoch weighting belongs to the training loader).
    Output gains ``source_col`` tagging each row's origin.

    Scale: one count per source (metadata aggregates, driver-side
    scalars), then narrow deterministic filters + UNION ALL — no
    shuffle. Counts are exact; the realized mix matches ``weights`` to
    sampling noise (hash-uniform within each source).
    """
    if set(sources) != set(weights):
        raise ValueError(f"sources {sorted(sources)} != weights {sorted(weights)}")
    if not sources:
        raise ValueError("need at least one source")
    for name, w in weights.items():
        if w <= 0:
            raise ValueError(f"weight for {name!r} must be > 0, got {w}")
    counts = {name: sdf.count() for name, sdf in sources.items()}
    for name, n in counts.items():
        if n == 0:
            raise ValueError(f"source {name!r} is empty")
    # total output T maximal s.t. w_i * T <= n_i for all i
    total = min(n / weights[name] for name, n in counts.items())
    out = None
    for name, sdf in sources.items():
        frac = min(1.0, weights[name] * total / counts[name])
        part = sample_fraction(sdf, frac, key_col, salt=salt + name).withColumn(
            source_col, F.lit(name)
        )
        out = part if out is None else out.unionByName(part)
    return out


def temperature_weights(
    counts: Mapping[str, int], alpha: float = 0.3
) -> dict[str, float]:
    """Temperature-scaled source weights (the multilingual/pretraining
    rebalance rule, public: Arivazhagan et al. 2019 §5, Conneau &
    Lample 2019): ``w_s ∝ n_s^alpha``, normalized. ``alpha = 1``
    reproduces the natural (proportional) mix; ``alpha → 0`` flattens
    toward uniform — small sources get boosted RELATIVE share, big
    ones get squashed, without anyone hand-tuning per-source weights.

    Pure driver metadata math (counts is #sources-sized by
    construction); the accumulation runs in sorted-key order so the
    normalization is reproducible bit-for-bit. Feed the result to
    ``mix_corpora`` (multi-frame shape) or use ``temperature_mix``
    (single tagged-frame shape, one pass).
    """
    if not counts:
        raise ValueError("need at least one source count")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    for s, n in counts.items():
        if n <= 0:
            raise ValueError(f"count for {s!r} must be > 0, got {n}")
    pw = {s: float(n) ** alpha for s, n in counts.items()}
    z = 0.0
    for s in sorted(pw, key=lambda x: (x is None, x)):
        z += pw[s]
    return {s: p / z for s, p in pw.items()}


def temperature_mix(
    df: DataFrame,
    key_col: str,
    source_col: str = "source",
    alpha: float = 0.3,
    salt: str = "",
    dispatch: str = "auto",
    case_max_sources: int = 64,
) -> DataFrame:
    """Temperature-based corpus remix over ONE source-tagged frame:
    counts per source → ``temperature_weights(alpha)`` → the
    ``mix_corpora`` down-sample rule (limiting source kept whole,
    never up-sample) → a single deterministic hash-gated filter. The
    one-pass shape a 100 TB store actually has (a ``source`` column,
    not N separate frames).

    ``dispatch`` picks how the per-source integer threshold reaches
    the filter — the ``flag_blocklisted``/``flag_blocklisted_join``
    split applied to threshold lookup (VERDICT r12 "what's wrong" #1):

    - ``"case"``: a chained ``F.when(...).otherwise`` — zero join,
      zero shuffle beyond the metadata count; but the expression tree
      is DEPTH = source cardinality, the measured literal-tree
      analysis-cost family. Right for the tens-of-sources language/
      domain mixes this operator usually sees.
    - ``"join"``: a broadcast LEFT join against the #sources-row
      threshold frame (``eqNullSafe`` on the source, so NULL sources
      keep their group threshold), then the same gate filter. Flat
      analysis cost at thousands of per-domain sources; one broadcast
      of a metadata-sized table. Value-IDENTICAL to the CASE form —
      thresholds are the same integers and the gate the same hash, so
      the split cannot shift a single row (parity-tested, and the
      crossover is measured in SCALING.md "Round 13: temperature_mix
      dispatch").
    - ``"auto"`` (default): CASE at ≤ ``case_max_sources`` sources
      (the measured regime where the tree is cheaper than planning a
      join), JOIN above.

    NULL sources are a group like any other (eqNullSafe dispatch in
    both forms + the samplers' null-key sentinel discipline) —
    silently dropping untagged rows is the exact failure mode the
    cleaning operators exist to prevent.
    """
    if dispatch not in ("auto", "case", "join"):
        raise ValueError(f"dispatch must be auto|case|join, got {dispatch!r}")
    # one row per source: a mixture's sources are a handful of datasets
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count("*").alias("n")).collect()
    }
    weights = temperature_weights(counts, alpha)
    total = min(counts[s] / weights[s] for s in counts)
    thresholds = {
        s: _gate_threshold(min(1.0, weights[s] * total / counts[s])) for s in counts
    }
    if dispatch == "auto":
        dispatch = "case" if len(counts) <= case_max_sources else "join"
    gate = _hash_gate(F.col(key_col), salt)
    if dispatch == "case":
        thr: Column = F.lit(0)
        for s in counts:
            thr = F.when(
                F.col(source_col).eqNullSafe(F.lit(s)), F.lit(thresholds[s])
            ).otherwise(thr)
        return df.filter(gate < thr)
    from pyspark.sql.types import IntegerType  # noqa: PLC0415

    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(s, t) for s, t in thresholds.items()],
        # reuse the frame's own source dtype so the eqNullSafe join key
        # never needs an implicit cast (int-tagged sources stay int)
        schema=df.select(F.col(source_col).alias("__mix_src"))
        .schema.add("__mix_thr", IntegerType()),
    )
    joined = df.join(
        F.broadcast(tdf), F.col(source_col).eqNullSafe(F.col("__mix_src")), "left"
    )
    return joined.filter(gate < F.col("__mix_thr")).drop("__mix_src", "__mix_thr")


def pack_chunks(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
    n_shards: int = 256,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Sequence packing, contiguous-chunk form: rows are sharded by a
    hash of ``order_col``, ordered within their shard, and assigned
    ``pack_id = shard × 2^32 + floor(exclusive_cumsum(tokens) / budget)``
    — a document joins the pack where its token offset STARTS, so packs
    average ``budget`` tokens (boundary docs straddle; the training
    loader truncates or spills the tail, the standard contiguous-packing
    contract). Fully SQL-expressible — unlike exact greedy packing,
    whose data-dependent reset recurrence needs a sequential pass
    (``pack_greedy`` below).

    Scale: ONE shuffle on the shard key; each shard's window sort is
    independent, so parallelism = ``n_shards`` regardless of corpus
    size. A single global window (n_shards=1) would serialize the whole
    corpus through one task — the same mistake as a global ORDER BY.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    shard = F.pmod(text.token_hash60(F.col(order_col).cast("string")), F.lit(n_shards))
    w = (
        Window.partitionBy("__shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (
        df.withColumn("__shard", shard)
        .withColumn(
            pack_col,
            (F.col("__shard").cast("long") * F.lit(1 << 32))
            + F.floor(start / budget),
        )
        .drop("__shard")
    )


def pack_greedy(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 256,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Sequence packing, exact-greedy form: within each shard, rows are
    taken in ``id_col`` order and a pack closes when adding the next row
    would exceed ``budget`` — no pack exceeds the budget (except a
    single row that alone does). The fill recurrence (reset on overflow)
    is data-dependent, so it runs as a sequential pass per shard via
    Arrow-batched ``applyInPandas`` — the §2.9 escape hatch, used
    because no window function expresses a reset-on-condition scan.

    Scale: ONE shuffle on the shard hash; each shard packs
    independently (parallelism = n_shards); state per task is two
    integers. Shards are hash-disjoint so pack ids never collide
    (shard × 2^32 + local counter, same scheme as ``pack_chunks``).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(pack_col, T.LongType())]
    )

    # no type hints on _pack (module convention — see text._annot_kernel_udf)
    def _pack(key, pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        base = int(key[0]) << 32
        packs, fill, pack = [], 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if fill and fill + t > budget:
                pack += 1
                fill = 0
            fill += t
            packs.append(base + pack)
        pdf[pack_col] = pd.array(packs, dtype="int64")
        return pdf

    shard = F.pmod(text.token_hash60(F.col(id_col).cast("string")), F.lit(n_shards))
    return (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(_pack, schema=out_schema.add("__shard", T.LongType()))
        .drop("__shard")
    )


# PII patterns, most-specific first (an SSN is also a phone-shaped digit
# run; emails before bare domains would matter if domains were scrubbed).
# Deliberately conservative/simple — the redaction CONTRACT (ordered
# regexp_replace chain, idempotent, replay-able in any regex engine) is
# the operator; production pattern packs slot into the same chain.
# Portability constraint (the reason these avoid lookarounds): the
# oracle replays every pattern through DuckDB's RE2, which has no
# lookbehind/lookahead — so anchoring is \b-based. Known \b caveats
# (ADVICE r5, deliberate): digit runs LONGER than 16 are not redacted
# as cards (both \b anchors sit digit-adjacent inside the run — and a
# 17+-digit run is not card-shaped anyway), and a card number embedded
# inside a longer digit run is likewise left alone. The CARD pattern
# starts and ends on a digit (separators only BETWEEN digits), so a
# trailing space/dash can no longer strand the final \b on a separator.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d(?:[ -]?\d){12,15}\b", "<CARD>"),
    (r"\+?\d{1,3}[ .-]?\(?\d{2,3}\)?[ .-]?\d{3}[ .-]?\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out: str | None = None,
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """PII redaction: an ordered ``regexp_replace`` chain substituting
    typed placeholder tokens — the scrub step a training corpus runs
    after dedup and before packing. Idempotent (placeholders match no
    pattern); pattern order is part of the contract (see PII_PATTERNS).

    Scale: pure narrow column map, whole-stage-codegen'd JVM regex —
    no shuffle, no Python.
    """
    col: Column = F.col(text_col)
    for pat, token in patterns:
        col = F.regexp_replace(col, pat, token)
    return df.withColumn(out or text_col, col)


def _quality_lang_stage(
    df: DataFrame,
    text_col: str,
    min_quality: float | None,
    langs: tuple[str, ...] | None,
) -> DataFrame:
    """Stage 1 of the prepare ladder (shared with ``attrition_report`` —
    ONE implementation, so the report counts the real pipeline by
    construction): quality + language annotation and filtering.

    Quality + lang + the stage-2 token-set fingerprint (as ``__fp``)
    come from ONE Arrow pass sharing one tokenize
    (``text._annot_kernel_udf``); ``_exact_dedup_stage`` then reuses the
    column instead of re-tokenizing. The values are bit-identical to
    ``with_quality_score`` / ``with_lang_id`` /
    ``with_token_set_fingerprint`` (parity pinned by
    ``test_prepare_annotations_fused_matches_jvm``). The fingerprint
    lands BEFORE the quality/lang filters — a per-row function of the
    text, so values are unchanged; the md5 spent on filtered-out rows is
    the price of sharing the tokenize."""
    tmp = "__annot_struct"
    st = text._annot_kernel_udf()(F.col(text_col))
    # exclude colliding names from the carried-through columns so a
    # caller df that already has annotation columns is OVERWRITTEN
    # (withColumn replace semantics) instead of duplicated into an
    # AMBIGUOUS_REFERENCE at the filters; a caller's own ``__fp`` is
    # replaced the same way, so stale data never reaches the dedup
    annot_names = {
        "n_chars_m",
        "punct_ratio",
        "stopword_ratio",
        "alpha_ratio",
        "quality_score",
        "lang_pred",
        "__fp",
    }
    carried = [c for c in df.columns if c not in annot_names]
    out = df.withColumn(tmp, st).select(
        *carried,
        F.col(tmp)["n_chars_m"].alias("n_chars_m"),
        F.col(tmp)["punct_ratio"].alias("punct_ratio"),
        F.col(tmp)["stopword_ratio"].alias("stopword_ratio"),
        F.col(tmp)["alpha_ratio"].alias("alpha_ratio"),
        F.col(tmp)["quality_score"].alias("quality_score"),
        F.col(tmp)["lang_pred"].alias("lang_pred"),
        F.col(tmp)["ts_fingerprint"].alias("__fp"),
    )
    if min_quality is not None:
        out = out.filter(F.col("quality_score") >= min_quality)
    if langs:
        out = out.filter(F.col("lang_pred").isin(*langs))
    return out


def _exact_dedup_stage(df: DataFrame, id_col: str) -> DataFrame:
    """Stage 2 (shared): keep the min-id row per token-set fingerprint,
    reading the ``__fp`` column stage 1 computed."""
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def _surface_losers(
    out: DataFrame,
    id_col: str,
    text_col: str,
    near_dup_threshold: float,
    max_bucket_size: int | None,
    representative: str,
) -> DataFrame:
    """Stage 3 (shared): the capped MinHash ladder → clusters → the
    non-representative members, as a one-column ``__loser`` frame.
    ``out`` must already be materialized (the ladder references it
    several times)."""
    pairs = dedup.near_dup_pairs(
        out,
        id_col,
        text_col,
        threshold=near_dup_threshold,
        max_bucket_size=max_bucket_size,
        materialize=True,
    )
    clusters = dedup.cluster_pairs(pairs)
    if representative == "quality":
        # highest-quality member survives (min id on ties): window over
        # the (id, cluster, score) metadata frame only
        scored = clusters.join(
            out.select(F.col(id_col).alias("doc_id"), "quality_score"),
            "doc_id",
        )
        wq = Window.partitionBy("cluster_id").orderBy(
            F.col("quality_score").desc(), F.col("doc_id")
        )
        return (
            scored.withColumn("__rk", F.row_number().over(wq))
            .filter(F.col("__rk") > 1)
            .select(F.col("doc_id").alias("__loser"))
        )
    return clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("__loser")
    )


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.5,
    langs: tuple[str, ...] | None = None,
    near_dup_threshold: float | None = 0.7,
    max_bucket_size: int | None = 50,
    redact: bool = True,
    representative: str = "min_id",
    remove_boilerplate: bool = False,
    max_dup_line_frac: float | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.9,
    semantic_id_col: str = "vec_id",
    semantic_vec_col: str = "embedding",
    normalize: bool = False,
    with_attrition: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """One-call training-corpus preparation — the §2.11 ladder composed
    in its production order:

    0. OPTIONAL pre-passes, the C4/Gopher order (all off by default to
       keep the oracle-checked default composition stable):
       ``normalize=True`` runs ``text.normalize_text`` FIRST (mojibake
       repair + NFC + control/zero-width/NBSP cleanup) so every later
       hash/fingerprint sees one spelling per content — two docs
       differing only in composed-vs-combining accents or CRLF become
       exact dups instead of sneaking past the fingerprint;
       ``remove_boilerplate=True`` strips corpus-frequent lines
       (``remove_boilerplate_lines``) BEFORE scoring — boilerplate
       otherwise inflates quality and welds near-dup buckets;
       ``max_dup_line_frac`` drops documents whose duplicate-line
       fraction exceeds it (``repetition_stats`` — intra-doc repetition
       is low quality regardless of corpus-wide uniqueness),
    1. quality + language annotation (narrow; the values of
       ``text.with_quality_score`` and ``with_lang_id``, computed with
       the stage-2 fingerprint in one fused Arrow pass) and filtering,
    2. EXACT dedup first (token-set fingerprint groupBy — O(n), removes
       identical copies before any pairwise machinery sees them),
    3. near-dup removal: capped MinHash-LSH pairs → connected components
       → keep ONE representative per cluster (anti-join the rest),
    4. OPTIONAL semantic dedup (pass ``embeddings``): the SemDeDup pass
       over embedding space (LSH cosine pairs → components) catches
       near-duplicates that share no surface n-grams — run after the
       surface ladder so its pair graph only sees surface-unique
       survivors; the ``representative`` rule (min-id or quality)
       applies to semantic clusters exactly as to surface ones,
    5. PII redaction (narrow).

    ``representative`` picks which cluster member survives stage 3:
    ``"min_id"`` (default — deterministic, oracle-checked by
    ``q_prepare_corpus``) or ``"quality"`` (the member with the highest
    ``quality_score``, ties broken by min id — keeps the best-written
    copy of a near-dup group, the usual production preference).

    Returns the surviving rows of ``df`` (annotation columns included)
    — every stage is the already-oracle-checked operator, composed.

    ``with_attrition=True`` returns ``(corpus, attrition)`` instead,
    where ``attrition`` is the same (stage, n_rows, n_dropped) frame as
    ``attrition_report`` — but FREE: stage counts ride as
    ``Observation`` metrics on the jobs that already materialize the
    ladder (the checkpoint barriers), so no stage re-executes for its
    count (vs. the standalone report's one-count-job-per-stage over a
    second run of the ladder). The dropping stages get an eager
    checkpoint each (populating their metric AND serving the
    multi-reference consumers that follow); pre-pass drops
    (``max_dup_line_frac``) fold into stage 1's drop count, since the
    report's stage names mirror the default composition.

    Scale: the expensive stage (3) is the capped ladder whose 100 TB
    design is argued/measured in dedup.py + SCALING.md; stages 1/2/4 are
    one narrow pass + one partial-agg shuffle. The quality-ranked
    selection adds one window over the cluster METADATA frame
    ((id, cluster, score) — never the document bodies).
    """
    if representative not in ("min_id", "quality"):
        raise ValueError(
            f"representative must be 'min_id' or 'quality', got {representative!r}"
        )
    if normalize:
        df = text.normalize_text(df, text_col)
    if remove_boilerplate:
        df = df.drop(text_col).join(
            remove_boilerplate_lines(df, id_col=id_col, text_col=text_col),
            id_col,
        )
    # attrition metrics ride the ladder's own jobs as Observations — a
    # stage's count is populated when its checkpoint barrier executes,
    # never by a second pass. Attached BEFORE the max_dup_line_frac
    # pre-filter (the one row-dropping pre-pass) so its drops appear in
    # stage 1's n_dropped; the observed nodes are all single-reference
    # in the executed jobs (stages 1–2 are window/filter chains), so
    # each metric is counted exactly once.
    observations: list[tuple[str, object]] = []

    def _observed(frame: DataFrame, stage: str) -> DataFrame:
        if not with_attrition:
            return frame
        from pyspark.sql import Observation  # noqa: PLC0415

        o = Observation()
        observations.append((stage, o))
        return frame.observe(o, F.count(F.lit(1)).alias("n"))

    df = _observed(df, "0_input")
    if max_dup_line_frac is not None:
        df = (
            repetition_stats(df, id_col=id_col, text_col=text_col, gram_ns=())
            .filter(F.col("dup_line_frac") <= max_dup_line_frac)
            .drop("dup_line_frac", "dup_line_char_frac")
        )
    out = _quality_lang_stage(df, text_col, min_quality, langs)
    out = _observed(out, "1_quality_lang")
    out = _exact_dedup_stage(out, id_col)
    out = _observed(out, "2_exact_dedup")
    if near_dup_threshold is not None or embeddings is not None or with_attrition:
        # pipeline-level materialization: the filtered+deduped base is
        # referenced by the pair ladder (several times internally) AND
        # the final anti-join — without the barrier the quality/dedup
        # stages re-execute per reference (measured 1.6×: 12.7 s → 7.9 s
        # warm at sf0.1). prepare_corpus is the one-call API, so the
        # eager job is the expected contract here (the primitive
        # operators stay lazy by default per the r4 ADVICE discipline).
        # The SemDeDup stage references `out` three times too (semi-join
        # build, quality join, final anti-join), so the barrier applies
        # whenever EITHER near-dup stage runs (ADVICE r6).
        out = out.localCheckpoint(eager=True)
    if near_dup_threshold is not None:
        losers = _surface_losers(
            out, id_col, text_col, near_dup_threshold,
            max_bucket_size, representative,
        )
        # no broadcast hint: the loser set scales with the corpus's
        # duplication rate (can be most of a crawl) — AQE broadcasts it
        # only when it actually fits
        out = out.join(losers, out[id_col] == F.col("__loser"), "left_anti")
        if with_attrition:
            # the barrier both populates the stage metric and serves the
            # semantic stage's three references to `out`
            out = _observed(out, "3_near_dedup").localCheckpoint(eager=True)
    if embeddings is not None:
        # SemDeDup stage: embedding-space near-dups that share no surface
        # n-grams (translations, paraphrases) — runs AFTER the surface
        # ladder so its pair graph only sees surface-unique survivors.
        # The drop list keys on the embedding table's id, joined to the
        # corpus id (the fixture tables share an id space; map upstream
        # when yours differ).
        surviving = embeddings.join(
            out.select(F.col(id_col).alias(semantic_id_col)),
            semantic_id_col,
            "semi",
        )
        from datapipelineetl_spark.operators import similarity  # noqa: PLC0415

        sem_pairs = similarity.lsh_cosine_near_pairs(
            surviving, semantic_threshold,
            num_planes=6, num_tables=8,
            id_col=semantic_id_col, vec_col=semantic_vec_col,
        )
        sem_clusters = dedup.cluster_pairs(sem_pairs)
        if representative == "quality":
            # same quality-ranked survivor rule as the surface stage
            sem_scored = sem_clusters.join(
                out.select(F.col(id_col).alias("doc_id"), "quality_score"),
                "doc_id",
            )
            wsq = Window.partitionBy("cluster_id").orderBy(
                F.col("quality_score").desc(), F.col("doc_id")
            )
            sem = (
                sem_scored.withColumn("__rk", F.row_number().over(wsq))
                .filter(F.col("__rk") > 1)
                .select(F.col("doc_id").alias("__sem_loser"))
            )
        else:
            sem = sem_clusters.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select(F.col("doc_id").alias("__sem_loser"))
        out = out.join(sem, out[id_col] == F.col("__sem_loser"), "left_anti")
        if with_attrition:
            out = _observed(out, "4_semantic_dedup").localCheckpoint(eager=True)
    if redact:
        out = redact_pii(out, text_col)
    if with_attrition:
        counts = [(stage, int(o.get["n"])) for stage, o in observations]
        rows = [
            (name, n, (counts[i - 1][1] - n) if i else 0)
            for i, (name, n) in enumerate(counts)
        ]
        report = df.sparkSession.createDataFrame(
            rows, "stage string, n_rows long, n_dropped long"
        )
        return out, report
    return out


def split_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
    overlap: int = 16,
    chunk_col: str = "chunk_idx",
    out: str = "chunk_text",
) -> DataFrame:
    """Document chunking: split each document into token windows of
    ``max_tokens`` with ``overlap`` tokens shared between consecutive
    chunks — the context-window splitter between a document store and a
    tokenizer. Chunk ``i`` covers tokens ``[i·step, i·step+max_tokens)``
    with ``step = max_tokens − overlap``; a doc of ≤ max_tokens tokens
    yields exactly one chunk; chunk text is the space-rejoined token
    window (token-level chunking — original inter-token whitespace is
    not preserved, by contract). NULL text is treated as empty (the
    doc yields one empty chunk) — consistent with the family-wide rule
    that corpus operators never silently drop rows (ADVICE r5: a bare
    tokenize of NULL propagates null chunk counts and the row vanished).

    Scale: pure per-row array math (tokens → sequence → slice/join) in
    codegen — no shuffle, 1 row → ceil(n/step) rows. ``posexplode_outer``
    not ``posexplode``: the chunk-index array is computed, and a
    non-outer explode would re-inline it below the Generate via the
    inferred size()>0 filter (the InferFiltersFromGenerate trap,
    NOTES.md).
    """
    if max_tokens < 1 or not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need max_tokens >= 1 and 0 <= overlap < max_tokens, got {max_tokens}, {overlap}"
        )
    step = max_tokens - overlap
    toks = text.tokens(F.coalesce(F.col(text_col), F.lit("")))
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(step)), F.lit(1)
    ).cast("int")
    chunked = df.withColumn("__toks", toks).select(
        F.col(id_col),
        F.posexplode_outer(F.sequence(F.lit(0), n_chunks - 1)).alias(chunk_col, "__i"),
        F.col("__toks"),
    )
    return (
        chunked.filter(F.col(chunk_col).isNotNull())
        .withColumn(
            out,
            F.array_join(
                F.slice(F.col("__toks"), F.col(chunk_col) * step + 1, max_tokens), " "
            ),
        )
        .select(id_col, chunk_col, out)
    )


def ngram_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    gram_col: str = "__g",
    drop_empty: bool = False,
) -> DataFrame:
    """(id, gram_hash) rows: each document's DISTINCT word ``n``-gram
    60-bit hashes — the precomputable half of the contamination join.
    Persist this over the held-out set once (it is tiny next to a
    training corpus) and every decontamination pass — batch
    (``contamination_pairs``) or streaming
    (``streaming.runner.streaming_decontaminate``) — becomes a plain
    equi-join against it instead of re-shingling the eval side.

    ``drop_empty``: a ZERO-token document shingles to the single empty
    gram ``""`` — for the contamination family that phantom gram is
    harmless noise the oracles replay, but for corpus-internal pair
    measures (``dedup.gram_novelty``, ``dedup.containment_pairs``) it
    makes every pair of empty documents "fully contained" in each
    other, a quadratic garbage blowup on boilerplate-stripped corpora.
    Those callers pass True to drop it (the hash of ``""`` is a
    constant, so this is one literal comparison, not a text check).

    Scale: O(tokens) per row, no shuffle — ONE Arrow-batched
    ``mapInPandas`` pass: tokenize (``str.lower()`` + the
    ``re.ASCII``-pinned ``\\s+`` split, the exact Java-``\\s`` parity the
    BPE kernel established), shingle, first-occurrence distinct,
    ``hashlib.md5`` 60-bit prefix. Measured ~9× faster than the
    expression spelling (5.6 s vs 0.6 s for the sf0.1 gram table: its
    shingle/md5 higher-order functions never enter whole-stage codegen);
    ``test_ngram_hashes_kernel_matches_jvm`` pins row parity against
    that spelling in ``tests/jvm_reference.py``.
    """
    import pandas as pd  # noqa: PLC0415

    idt = df.schema[id_col].dataType.simpleString()
    nn = int(n)
    de = bool(drop_empty)
    tname, iname = text_col, id_col

    def gen(batches):
        import hashlib as _hl  # noqa: PLC0415
        import re as _re  # noqa: PLC0415

        # re.ASCII pins \s+ to Java's default [ \t\n\x0b\f\r]
        sre = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            idxs: list[int] = []
            hs: list[int] = []
            for ridx, txt in enumerate(pdf[tname].tolist()):
                if not isinstance(txt, str):
                    continue  # NULL text → no rows (the JVM filter)
                toks = [t for t in sre.split(txt.lower()) if t]
                seen = set()
                for i in range(max(len(toks) - nn, 0) + 1):
                    g = " ".join(toks[i:i + nn])
                    if g in seen or (de and g == ""):
                        continue
                    seen.add(g)
                    idxs.append(ridx)
                    hs.append(
                        int(_hl.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    )
            # carry the id through its ORIGINAL pandas dtype (no
            # int round-trip) so null ids survive as nulls
            yield pd.DataFrame(
                {
                    iname: pdf[iname].iloc[idxs].reset_index(drop=True),
                    gram_col: pd.Series(hs, dtype="int64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"`{id_col}` {idt}, `{gram_col}` long"
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Train/test contamination check: (test_id, train_id, n_shared)
    for every cross-corpus pair sharing ≥1 distinct word ``n``-gram —
    the eval-set decontamination step of a training pipeline (n≈8–13
    word-gram overlap is the standard published criterion). The
    CROSS-corpus form of ``dedup.fingerprint_collision_pairs``: same
    bucketed equi-join on the n-gram hash, so the work is
    O(corpus × grams/doc) shuffle + per-bucket pairing — never a
    |train|×|test| comparison.

    ``max_bucket_size`` drops n-grams present in more than that many
    TRAIN docs (boilerplate phrases) before pairing — same skew cap,
    same caveat as the dedup ladder.
    """
    def grams(df: DataFrame, side: str) -> DataFrame:
        return ngram_hashes(df, id_col=id_col, text_col=text_col, n=n).select(
            F.col(id_col).alias(f"{side}_id"), "__g"
        )

    tr, te = grams(train, "train"), grams(test, "test")
    if max_bucket_size is not None:
        sizes = (
            tr.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
        )
        tr = tr.join(sizes.select("__g"), "__g")
    return (
        te.join(tr, "__g")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def contaminated_ids(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    max_bucket_size: int | None = None,
    side: str = "test",
) -> DataFrame:
    """The decontamination drop-list: distinct ids from ``side`` sharing
    at least ``min_shared`` n-grams with ANY doc on the other side.
    ``side="test"`` lists eval docs leaked into training data (drop from
    the eval set); ``side="train"`` lists TRAINING docs containing
    held-out material (drop from the training set — the usual
    pretraining decontamination direction). The id comes from the
    declared side's column of ``contamination_pairs``, so cross-id
    contamination is caught either way — anti-joining one side's ids
    against the OTHER side's frame would only ever remove coincidental
    id collisions."""
    if side not in ("test", "train"):
        raise ValueError(f"side must be 'test' or 'train', got {side!r}")
    pairs = contamination_pairs(train, test, id_col, text_col, n, max_bucket_size)
    return (
        pairs.filter(F.col("n_shared") >= min_shared)
        .select(F.col(f"{side}_id").alias(id_col))
        .distinct()
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frac: float = 0.2,
    min_docs: int = 2,
    separator: str = "\n",
) -> DataFrame:
    """Boilerplate line removal (the C4-style cleanup pass): lines whose
    trimmed form appears in more than ``max(min_docs, max_doc_frac ×
    corpus)`` DISTINCT documents (nav bars, cookie banners, footers) are
    deleted from every document; remaining lines keep their original
    order. Returns (id, text) with the rebuilt text — documents whose
    every line was boilerplate come back empty (drop them with the
    quality filter, which is the pipeline order ``prepare_corpus``
    implies).

    ``separator`` sets the removal granularity: the default ``"\\n"``
    is line-level; ``"\\n\\n"`` removes whole repeated PARAGRAPHS
    (RefinedWeb-style — a multi-line license block or signature repeats
    as a unit even when no single line clears the threshold). The
    separator is matched literally (regex-quoted) and rejoins the kept
    units byte-identically.

    Scale: explode to (doc, line-index, line) — O(total lines), narrow;
    line doc-frequency is one partial-agg shuffle on the trimmed line;
    the boilerplate set anti-joins back (AQE broadcasts it when small —
    it is, by construction: lines above a corpus-fraction threshold);
    the rebuild is one groupBy(doc) with an in-aggregate sorted
    reassembly (array_sort over (index, line) structs — no per-group
    window, no second shuffle beyond the groupBy). One driver-side
    metadata count for the corpus size, same class as mix_corpora.
    """
    if not 0.0 < max_doc_frac <= 1.0:
        raise ValueError(f"max_doc_frac must be in (0, 1], got {max_doc_frac}")
    total_docs = df.count()
    # strictly MORE than max(min_docs, frac×corpus) — the +1 makes the
    # >= filter an exclusive bound on BOTH branches of the max
    threshold = max(min_docs, int(max_doc_frac * total_docs)) + 1
    # \Q..\E regex-quotes the separator so multi-char separators (e.g.
    # "\n\n" for PARAGRAPH-granular removal — RefinedWeb-style) split
    # literally; a run of 3 newlines then leaves a stray "\n" on the
    # next unit, which the whitespace-strip match key absorbs
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.split(F.col(text_col), "\\Q" + separator + "\\E")
        ).alias("__idx", "__line"),
    ).filter(F.col("__line").isNotNull())
    # full whitespace strip for the match key (not F.trim — spaces only);
    # a banner line indented with a tab must still match the banner key
    norm = F.regexp_replace(F.col("__line"), r"^\s+|\s+$", "")
    boiler = (
        lines.filter(norm != "")
        .select(F.col(id_col), norm.alias("__key"))
        .distinct()
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .filter(F.col("__docs") >= threshold)
        .select("__key")
    )
    kept = lines.join(boiler, norm == F.col("__key"), "anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__idx"), F.col("__line")))
                    ),
                    lambda s: s["__line"],
                ),
                separator,
            ).alias(text_col)
        )
    )
    # docs whose EVERY line was boilerplate vanish from `kept` — restore
    # them with empty text so the operator never silently drops rows
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .fillna({text_col: ""})
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/MassiveText
    repetition-removal rules, Rae et al. 2021 §A1.1): per document,

    - ``dup_line_frac``: fraction of non-empty (trimmed) lines that are
      repeats of an earlier line;
    - ``dup_line_char_frac``: fraction of those lines' characters inside
      the repeated copies (each distinct line's first occurrence is not
      a repeat);
    - ``dup_{n}gram_frac``: fraction of word ``n``-grams that are
      repeats of an earlier identical n-gram, for each n in
      ``gram_ns`` (the deterministic proxy for Gopher's duplicate
      n-gram character fractions).

    Filter on these upstream of dedup (`prepare_corpus` order): a doc
    that is 60% one repeated line is low-quality REGARDLESS of its
    corpus-wide uniqueness, which is why this is a separate operator
    from the cross-document ladder.

    All ratios round to 4 places and are 0.0 (never null) for empty /
    NULL text.

    Scale: ONE Arrow-batched pass computing every ratio as a struct —
    split/trim/tokenize once, line multiset and both gram multisets
    counted in Python; no shuffle, no explode. The expression spelling
    carried **11.75 s executor CPU in one stage** at sf0.1 (an
    interpreted regexp-trim per line and one ``array_join(slice)`` per
    gram: higher-order functions never codegen);
    ``test_repetition_stats_kernel_matches_jvm`` pins row parity against
    it (``tests/jvm_reference.py``). Marked non-deterministic (the
    seq-kernel discipline).
    """
    fields = ["dup_line_frac", "dup_line_char_frac"] + [
        f"dup_{n}gram_frac" for n in gram_ns
    ]
    tmp = "__rep_struct"
    st = _repetition_kernel_udf(tuple(gram_ns))(F.col(text_col))
    return df.withColumn(tmp, st).select(
        *df.columns, *[F.col(tmp)[f].alias(f) for f in fields]
    )


def _repetition_kernel_udf(gram_ns: tuple[int, ...]):
    """Arrow-batched BIT-EXACT repetition metrics — the values of the
    JVM-expression ``repetition_stats`` in ``tests/jvm_reference.py``
    in one Python pass (round 16).
    Parity notes: the line split is the literal ``\\n`` (Java keeps
    trailing empties with limit -1, Python's ``str.split`` too — the
    trim+drop-empty filter erases the difference); the trim is the same
    ``re.ASCII`` ``^\\s+|\\s+$`` regex (NOT ``str.strip()``, whose
    unicode whitespace set is wider than Java's default ``\\s``);
    tokenization is the established ``str.lower()`` + ``re.ASCII``
    split; lengths count code points on both sides; every ratio rounds
    via ``text._round4_half_up`` (Spark's round-double semantics); NULL
    text produces all-0.0, exactly that reference's coalesce('') path. Distinct
    counts/char-sums use the set of values — identical to
    ``array_distinct``'s first-occurrence list for both."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    import re as _re  # noqa: PLC0415

    trim_re = _re.compile(r"^\s+|\s+$", _re.ASCII)
    sre = _re.compile(r"\s+", _re.ASCII)
    rnd = text._round4_half_up()
    ns = tuple(int(n) for n in gram_ns)
    fields = ["dup_line_frac", "dup_line_char_frac"] + [
        f"dup_{n}gram_frac" for n in ns
    ]
    ftypes = ",".join(f"{f}:double" for f in fields)

    def _rep(s):
        cols: dict[str, list[float]] = {f: [] for f in fields}
        for txt in s.tolist():
            if not isinstance(txt, str):
                txt = ""
            lines = [trim_re.sub("", l) for l in txt.split("\n")]
            lines = [l for l in lines if l != ""]
            dlines = set(lines)
            n_lines = len(lines)
            cols["dup_line_frac"].append(
                rnd((n_lines - len(dlines)) / max(n_lines, 1))
            )
            chars = sum(len(l) for l in lines)
            dchars = sum(len(l) for l in dlines)
            cols["dup_line_char_frac"].append(
                rnd((chars - dchars) / max(chars, 1))
            )
            if ns:
                toks = [t for t in sre.split(txt.lower()) if t]
                for n in ns:
                    if len(toks) >= n:
                        n_grams = len(toks) - n + 1
                        n_dist = len(
                            {" ".join(toks[i : i + n]) for i in range(n_grams)}
                        )
                        cols[f"dup_{n}gram_frac"].append(
                            rnd((n_grams - n_dist) / max(n_grams, 1))
                        )
                    else:
                        cols[f"dup_{n}gram_frac"].append(0.0)
        return pd.DataFrame(cols)

    # no type hints on _rep (module convention — see text._annot_kernel_udf)
    return pandas_udf(_rep, f"struct<{ftypes}>").asNondeterministic()


def pack_sequences(
    encoded: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    ids_col: str = "input_ids",
    n_shards: int = 256,
    pack_col: str = "pack_id",
    out: str = "token_ids",
) -> DataFrame:
    """The final training artifact: documents already encoded to id
    sequences (``text.encode_tokens``) are packed (contiguous-chunk
    assignment, ``pack_chunks`` on the ACTUAL sequence lengths) and each
    pack's sequences CONCATENATED in document order into one
    ``array<long>`` row — what a data loader memory-maps. Returns
    (pack_col, out, n_docs, n_tokens).

    Scale: one narrow length column, pack_chunks' single shard shuffle,
    then ONE groupBy(pack) with an in-aggregate ordered flatten
    (array_sort over (order, ids) structs → flatten) — sequences never
    pass through Python and no per-pack window runs.
    """
    # NULL id arrays (a malformed upstream encode) must not poison the
    # pack: size(NULL) nulls the length and flatten over a list with a
    # NULL element nulls the WHOLE pack's tensor — coalesce to empty
    with_len = encoded.withColumn(
        ids_col, F.coalesce(F.col(ids_col), F.array().cast("array<long>"))
    ).withColumn("__len", F.size(F.col(ids_col)))
    packed = pack_chunks(
        with_len, "__len", budget=budget, order_col=id_col,
        n_shards=n_shards, pack_col=pack_col,
    )
    return (
        packed.groupBy(pack_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(id_col), F.col(ids_col)))
                    ),
                    lambda s: s[ids_col],
                )
            ).alias(out),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__len").cast("long").alias("n_tokens"),
        )
    )


def split_corpus(
    df: DataFrame,
    fractions: Mapping[str, float],
    key_col: str,
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Deterministic DISJOINT-EXHAUSTIVE corpus split (train/val/test):
    each row lands in exactly one named split, chosen by which
    cumulative-fraction band its hash gate falls in. The partition
    counterpart of ``sample_fraction`` — same-salt samples are NESTED
    (a 1% sample is inside the 99%), so two sample calls can never
    produce the disjoint split a holdout needs; this one band-partitions
    a single coin instead. Fractions must sum to 1 (±1e-9); band order
    follows the mapping's iteration order, so the same dict yields the
    same split forever — and the split survives adding future rows
    (each row's band depends only on its own key).

    Scale: one narrow CASE over the hash gate — no shuffle, no join;
    replay in SQL with the documented gate + cumulative thresholds.
    """
    if not fractions:
        raise ValueError("need at least one split")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    for name, f in fractions.items():
        if f < 0:
            raise ValueError(f"fraction for {name!r} must be >= 0, got {f}")
    gate = _hash_gate(F.col(key_col), salt)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = gate < _gate_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def attrition_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = 0.5,
    langs: tuple[str, ...] | None = None,
    near_dup_threshold: float | None = 0.7,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """Stage-by-stage attrition accounting for the ``prepare_corpus``
    ladder: one row per stage with the surviving count and the drop at
    that stage — the first diagnostic a corpus engineer asks for
    ("where did my documents go?"). Stages mirror ``prepare_corpus``'s
    default composition exactly (quality/lang filter → exact dedup →
    near-dup clustering) with the same parameters; redaction never
    drops rows so it has no stage here.

    Returns (stage, n_rows, n_dropped) with stage order preserved by an
    ordinal prefix.

    Scale (round 16): delegates to ``prepare_corpus(...,
    with_attrition=True)`` — every stage count rides as an
    ``Observation`` metric on the job that already materializes that
    stage of the ladder, so the report costs ZERO jobs beyond the
    ladder itself. The pre-round-16 standalone form paid a separate
    full-scan ``df.count()`` plus one count job per stage over its own
    re-run of the ladder (4 counts + 3 checkpoints; warm sf0.1 A/B in
    OPTIMIZATION_r16.md). One implementation also means the report
    counts the real pipeline by construction.
    """
    _, report = prepare_corpus(
        df,
        id_col=id_col,
        text_col=text_col,
        min_quality=min_quality,
        langs=langs,
        near_dup_threshold=near_dup_threshold,
        max_bucket_size=max_bucket_size,
        redact=False,
        with_attrition=True,
    )
    return report


def shuffle_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 1024,
    salt: str = "",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle for training-data loaders: every row
    gets a ``(shard, pos)`` address — which output shard it belongs to
    and its position within that shard — drawn from a keyed hash, so the
    SAME corpus + salt always yields the SAME ordering (resumable data
    loading, reproducible training runs), while the order is
    pseudo-random with respect to any source/crawl ordering. Changing
    ``salt`` draws an independent permutation (epoch reshuffles).

    RNG-free by the same rule as the samplers here: ``df.sample``-style
    per-partition seeding depends on the physical split layout and is
    neither reproducible nor oracle-able (NOTES.md); the md5-derived
    hash depends only on the row's own key. NULL keys coalesce to the
    usual sentinel first. ``key_col`` must be UNIQUE per row — rows
    sharing a key (including several NULLs) tie in the position sort
    and their relative order is then arbitrary per run.

    Scale: ONE shuffle (hash partition on the shard id), then a per-
    shard sort for the position numbers — each shard is sorted by a
    single task, which is exactly the layout a loader wants anyway:
    pick ``n_shards`` so a shard is file-sized (e.g. 100 TB / 256 MB
    ≈ 400k shards); the positions then come from a per-task sort of a
    few hundred MB, no global ordering ever materializes.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    k = F.coalesce(F.col(key_col).cast("string"), F.lit(_NULL_KEY))
    h = text.token_hash60(F.concat(k, F.lit(salt)))
    out = df.withColumn("__shuffle_key", h).withColumn(
        shard_col, F.pmod(F.col("__shuffle_key"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("__shuffle_key"), F.col(key_col)
    )
    return (
        out.withColumn(pos_col, F.row_number().over(w).cast("long"))
        .drop("__shuffle_key")
    )


def sample_k_per_stratum(
    df: DataFrame,
    k: int,
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly-``k`` deterministic sample per stratum (min(k, stratum
    size) rows) — balanced eval/debug sets ("200 docs per language"),
    where the fraction-based ``sample_stratified`` can't hit exact
    counts. Selection is by keyed-hash order, so it is reproducible,
    independent of input ordering, and a larger ``k`` EXTENDS the
    smaller sample (the first k rows per stratum never change —
    nested subsamples for scaling-law runs). ``key_col`` must be
    unique per row (duplicate keys tie in the hash order and select
    arbitrarily among themselves).

    Scale: one shuffle on the stratum key + a per-stratum window sort.
    A pathologically hot stratum serializes into one task's sort —
    at that point pre-filter with ``sample_fraction`` to a few×k first
    (hash-gated, so the k-sample drawn from the gated subset is still
    deterministic), or bound strata upstream.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(_NULL_KEY))
    h = text.token_hash60(F.concat(key, F.lit(salt)))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def select_until_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Budget-capped corpus selection: take documents in ``order_col``
    order (best-first by default) until their cumulative token count
    reaches ``budget`` — "give me the best 50 B tokens" — keeping any
    document whose EXCLUSIVE running total still sits under the budget
    (the boundary doc straddles; the training loader truncates or
    spills its tail — the same convention as ``pack_chunks``).

    The global running total is computed WITHOUT a global sort: a
    single ``ORDER BY`` window would serialize the whole corpus through
    one task. Instead (the classic two-phase cumsum):

    1. per-order-key token totals (one partial-agg shuffle — the key
       set is the DISTINCT ``order_col`` values, e.g. a few thousand
       quantized quality scores),
    2. exclusive key offsets via a window over that AGGREGATED frame —
       a one-task sort of key-count rows, metadata-sized,
    3. offsets broadcast-join back; the within-key exclusive cumsum
       runs partitioned BY key (ordered by ``id_col`` — the global
       order's tiebreak), so row-level work stays distributed.

    Caveats: ``order_col`` should be low-cardinality relative to the
    corpus (scores, buckets — quantize a continuous score first); one
    pathologically hot key value serializes that key's cumsum into one
    task (pre-bucket further if a single score level exceeds task
    scale). Rows with NULL ``order_col`` or NULL/negative tokens are
    excluded up front — a NULL would silently sort into the boundary.
    ``id_col`` must be unique per row (it is the global order's
    tiebreak; duplicates make the budget boundary arbitrary among
    themselves).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    base = df.filter(
        F.col(order_col).isNotNull() & (F.coalesce(F.col(token_col), F.lit(-1)) >= 0)
    )
    key_order = F.col(order_col).desc() if descending else F.col(order_col).asc()
    key_totals = base.groupBy(order_col).agg(
        F.sum(token_col).cast("long").alias("__key_tokens")
    )
    w_keys = (
        Window.orderBy(key_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = key_totals.withColumn(
        "__key_offset", F.coalesce(F.sum("__key_tokens").over(w_keys), F.lit(0))
    ).drop("__key_tokens")
    w_in = (
        Window.partitionBy(order_col)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(offsets), order_col)
        .withColumn(
            "__running",
            F.col("__key_offset")
            + F.coalesce(F.sum(token_col).over(w_in), F.lit(0)),
        )
        .filter(F.col("__running") < budget)
        .drop("__key_offset", "__running")
    )


def corpus_report(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus profile — the dashboard a corpus engineer
    watches per crawl/source/language: document count, total tokens and
    characters, mean quality score, and exact interpolated p50/p90
    document lengths. One row per ``group_cols`` combination.

    Scale: the annotations (quality score, token count) are narrow
    column math; the report is ONE partial-aggregated groupBy. Exact
    percentiles gather each group's lengths on one partition — right
    for low-cardinality (source, lang) groups; switch to
    approx_percentile (mergeable t-digest) if grouping by something
    high-cardinality. Output is group-count-sized: driver-safe to
    collect, tiny to store per crawl for drift tracking.
    """
    ann = text.with_quality_score(df, text_col).withColumn(
        "__nt", F.size(text.tokens(text_col))
    )
    return ann.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("total_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("total_chars"),
        F.round(F.avg("quality_score"), 4).alias("mean_quality"),
        F.round(F.expr("percentile(__nt, 0.5)"), 1).alias("p50_tokens"),
        F.round(F.expr("percentile(__nt, 0.9)"), 1).alias("p90_tokens"),
    )


def corpus_drift(
    before: DataFrame,
    after: DataFrame,
    group_cols: tuple[str, ...] = ("source", "lang"),
) -> DataFrame:
    """Diff two ``corpus_report`` outputs — the between-crawls drift
    check ("which source/language shifted, appeared, or vanished?"):
    per group, before/after doc counts, token/quality deltas, and a
    status (``appeared`` / ``vanished`` / ``changed`` / ``stable``).
    Run it on the stored profile of the previous crawl vs the fresh
    one; a collapsed language or a quality cliff shows up as one row.

    Scale: both inputs are group-count-sized report frames (metadata,
    not corpus rows) — the full-outer join and deltas cost nothing;
    keep historical reports as tiny parquet snapshots per crawl.
    """
    keys = list(group_cols)
    metrics = ("n_docs", "total_tokens", "mean_quality")

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *keys, *[F.col(m).alias(f"{m}_{tag}") for m in metrics]
        )

    j = tagged(before, "before").join(tagged(after, "after"), keys, "full")
    docs_b, docs_a = F.col("n_docs_before"), F.col("n_docs_after")
    status = (
        F.when(docs_b.isNull(), F.lit("appeared"))
        .when(docs_a.isNull(), F.lit("vanished"))
        .when(
            (docs_a != docs_b)
            | (F.col("total_tokens_after") != F.col("total_tokens_before"))
            | (F.col("mean_quality_after") != F.col("mean_quality_before")),
            F.lit("changed"),
        )
        .otherwise(F.lit("stable"))
    )
    return j.select(
        *keys,
        F.coalesce(docs_b, F.lit(0)).alias("n_docs_before"),
        F.coalesce(docs_a, F.lit(0)).alias("n_docs_after"),
        (F.coalesce(docs_a, F.lit(0)) - F.coalesce(docs_b, F.lit(0))).alias(
            "doc_delta"
        ),
        (
            F.coalesce(F.col("total_tokens_after"), F.lit(0))
            - F.coalesce(F.col("total_tokens_before"), F.lit(0))
        ).alias("token_delta"),
        F.round(
            F.coalesce(F.col("mean_quality_after"), F.lit(0.0))
            - F.coalesce(F.col("mean_quality_before"), F.lit(0.0)),
            4,
        ).alias("quality_delta"),
        status.alias("status"),
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    out: str = "dsir_weight",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram profile is — the
    mean log-likelihood ratio ``ln(p_target(b) / p_raw(b))`` over the
    document's features, where features are unigrams + word bigrams
    hashed into ``n_buckets`` buckets and both distributions are
    add-``alpha`` smoothed bucket frequencies (target fit on
    ``target``, raw on ``df`` itself). Rank by the weight and take the
    top slice (or gumbel-resample downstream) to select raw data that
    matches a high-quality target domain. Returns
    (id_col, n_grams, out); gramless docs get n_grams 0 and NULL
    weight, never a dropped row.

    Scale: both distributions are ``n_buckets``-row frames (metadata —
    the whole point of hashed features: the model size is fixed
    regardless of corpus size) built by one partial-agg shuffle each;
    scoring is one explode + one broadcast join against the bucket
    table + one groupBy(doc). The totals row is a 1-row scalar
    crossJoin (plan-lint-allowlisted decorrelated-scalar shape).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    model = dsir_model(df, target, text_col=text_col, n_buckets=n_buckets)
    return dsir_score(
        df, model, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, alpha=alpha, out=out,
    )


def _dsir_bucket_kernel(n_buckets: int, id_field: str | None, text_field: str):
    """mapInPandas generator emitting one ``__b`` bucket row per DSIR
    gram OCCURRENCE (unigrams + adjacent word bigrams — the exact
    per-occurrence multiset of ``_dsir_grams`` in
    ``tests/jvm_reference.py``, the parity reference: tokenize with the
    established ``re.ASCII`` split parity, bigrams joined with one
    space, buckets ``md5-60 % n_buckets`` — pmod == ``%`` on the
    nonnegative 60-bit hash). With ``id_field`` the id rides along and
    a ZERO-GRAM document (incl. NULL text) emits one (id, NULL) row —
    the ``explode_outer`` contract the scorer's n_grams-0/NULL-weight
    output depends on; without ``id_field`` (the distribution-fit
    path) zero-gram docs emit nothing, the plain ``explode`` contract."""
    import pandas as pd  # noqa: PLC0415

    nb = int(n_buckets)

    def gen(batches):
        import hashlib as _hl  # noqa: PLC0415
        import re as _re  # noqa: PLC0415

        sre = _re.compile(r"\s+", _re.ASCII)
        memo: dict[str, int] = {}

        def bucket(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = int(_hl.md5(g.encode("utf-8")).hexdigest()[:15], 16) % nb
                memo[g] = v
            return v

        for pdf in batches:
            ids: list = []
            bs: list[int | None] = []
            texts = pdf[text_field].tolist()
            rids = pdf[id_field].tolist() if id_field else None
            for ridx, txt in enumerate(texts):
                toks = (
                    [t for t in sre.split(txt.lower()) if t]
                    if isinstance(txt, str)
                    else []
                )
                n0 = len(bs)
                for t in toks:
                    bs.append(bucket(t))
                for i in range(len(toks) - 1):
                    bs.append(bucket(toks[i] + " " + toks[i + 1]))
                if rids is not None:
                    emitted = len(bs) - n0
                    if emitted == 0:
                        bs.append(None)
                        emitted = 1
                    ids.extend([rids[ridx]] * emitted)
            if id_field:
                yield pd.DataFrame({id_field: ids, "__b": bs})
            else:
                yield pd.DataFrame({"__b": bs})

    return gen


def dsir_model(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """The DSIR model as a standalone, PERSISTABLE artifact: the
    (bucket, __raw, __tgt) hashed-n-gram count table both distributions
    share — ``dsir_weights`` is exactly ``dsir_score(df,
    dsir_model(df, target))``, split out so the model can be fit ONCE
    (on the raw corpus sample + the target) and then score any frame —
    a later crawl slice, a parquet store, a micro-batch stream
    (``streaming.runner.streaming_dsir_weights``) — without refitting.
    Write it with ``model.write.parquet(...)`` and reload with
    ``spark.read.parquet``; record ``n_buckets`` with it — scoring
    MUST use the same value (the bucket modulus and the smoothing
    denominator both depend on it, and the table itself cannot reveal
    it: buckets empty in both corpora carry no row).

    Scale: one partial-agg shuffle per corpus, each collapsing to at
    most ``n_buckets`` rows (metadata by construction — the hashing
    trick's size story); localCheckpointed because the totals
    aggregate and the scoring join both read it. The gram/bucket pass
    is one Arrow ``mapInPandas`` per corpus: the expression spelling's
    tokens/shingles/filter chain plus per-gram md5 ran interpreted per
    gram (its two fit stages carried 6.9 + 7.7 s of executor CPU at
    sf0.1). ``test_dsir_kernel_matches_jvm`` pins bucket parity against
    that spelling in ``tests/jvm_reference.py``.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def dist(frame: DataFrame, name: str) -> DataFrame:
        buckets = frame.select(F.col(text_col)).mapInPandas(
            _dsir_bucket_kernel(n_buckets, None, text_col), "`__b` long"
        )
        return buckets.groupBy("__b").agg(F.count(F.lit(1)).alias(name))

    return (
        dist(raw, "__raw")
        .join(dist(target, "__tgt"), "__b", "full")
        .fillna({"__raw": 0, "__tgt": 0})
    ).localCheckpoint(eager=True)  # bucket-table-sized; read by totals + join


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 1.0,
    out: str = "dsir_weight",
) -> DataFrame:
    """Score a frame against a prebuilt ``dsir_model`` table: mean
    add-``alpha``-smoothed log-likelihood ratio over the document's
    hashed features. ``n_buckets`` must equal the value the model was
    fit with (see ``dsir_model``). Same output contract as
    ``dsir_weights``: (id_col, n_grams, out), gramless docs get
    n_grams 0 and NULL weight, never a dropped row.

    Scale: one explode + one broadcast join against the bucket table +
    one groupBy(doc); the totals row is a 1-row scalar crossJoin
    (plan-lint-allowlisted decorrelated-scalar shape). No corpus-sized
    state — the model is the only cross-frame input, and it is
    ``n_buckets`` rows. The ``dsir_model`` gram kernel emits (id,
    bucket) occurrence rows directly; gramless docs emit one
    NULL-bucket row, the ``explode_outer`` contract.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    totals = model.agg(
        F.coalesce(F.sum("__raw"), F.lit(0)).alias("__raw_total"),
        F.coalesce(F.sum("__tgt"), F.lit(0)).alias("__tgt_total"),
    )
    idt = df.schema[id_col].dataType.simpleString()
    doc_grams = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _dsir_bucket_kernel(n_buckets, id_col, text_col),
        f"`{id_col}` {idt}, `__b` long",
    )
    scored = (
        doc_grams.join(F.broadcast(model), "__b", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__lr",
            F.when(
                F.col("__b").isNotNull(),
                F.log(
                    (F.coalesce(F.col("__tgt"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__tgt_total") + F.lit(alpha) * n_buckets)
                )
                - F.log(
                    (F.coalesce(F.col("__raw"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__raw_total") + F.lit(alpha) * n_buckets)
                ),
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("__lr").alias("n_grams"),
        F.round(F.avg("__lr"), 5).alias(out),
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "dsir_weight",
    temperature: float = 1.0,
    salt: str = "",
    key_out: str = "resample_key",
) -> DataFrame:
    """Gumbel-top-k importance resampling — the selection half of DSIR
    (Xie et al. 2023 sample ∝ importance WITHOUT replacement; the
    Gumbel-max trick makes that a single top-k): each doc gets
    ``key = weight / temperature + G(hash(id, salt))`` where ``G`` is a
    deterministic Gumbel draw from the doc's own hash
    (``u = (hash60 + 0.5) / 2^60``, ``G = -ln(-ln(u))``), and the k
    largest keys are the sample. Same corpus + salt → the same sample
    forever (the RNG-free discipline of every sampler here); a new
    ``salt`` draws an independent sample; ``temperature`` → 0
    approaches deterministic top-k by weight, large values approach
    uniform. NULL weights are excluded (unscored docs can't be
    importance-sampled); NULL ids get the usual sentinel coin.

    Returns the selected rows (all input columns + ``key_out`` rounded
    to 6 decimals), deterministic ties broken by id.

    Scale: a narrow key computation + ONE top-k
    (TakeOrderedAndProject for driver-sized k; for corpus-sized k use
    the two-phase threshold form: per-partition top-k partial, then a
    key-threshold selected on the aggregated counts — the
    select_until_token_budget pattern). No shuffle before the top-k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    kstr = F.coalesce(F.col(id_col).cast("string"), F.lit(_NULL_KEY))
    h = text.token_hash60(F.concat(kstr, F.lit(salt)))
    u = (h + F.lit(0.5)) / F.lit(float(1 << 60))
    gumbel = -F.log(-F.log(u))
    key = F.round(
        F.col(weight_col).cast("double") / F.lit(float(temperature)) + gumbel, 6
    )
    return (
        weights.filter(F.col(weight_col).isNotNull())
        .withColumn(key_out, key)
        .orderBy(F.col(key_out).desc(), F.col(id_col))
        .limit(k)
    )


def pack_best_fit(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 256,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Sequence packing, best-fit-decreasing form — the padding
    minimizer: within each shard, rows are taken LONGEST FIRST (ties by
    id) and each goes to the open pack with the LEAST remaining room
    that still fits; only when none fits does a new pack open. Keeping
    every pack open (vs ``pack_greedy``'s single open pack that closes
    forever on overflow) recovers the capacity next-fit strands, so
    pack count — and with it padding — is empirically lower on ragged
    length distributions (property-pinned in tests; BFD is the classic
    bin-packing heuristic, ≤ 11/9·OPT + 1 packs). A row larger than
    ``budget`` sits alone in its own pack, same contract as greedy.
    Fully deterministic: the (length desc, id) order and the
    least-room/lowest-pack-id tiebreak admit exactly one packing.

    Scale: ONE shuffle on the shard hash; each shard packs
    independently via Arrow-batched ``applyInPandas`` (the same §2.9
    escape hatch as ``pack_greedy`` — best-fit's bin state is
    data-dependent and sequential). State per task is the open-pack
    remaining-room table (O(packs-per-shard) ints); keep shards
    file-sized via ``n_shards`` exactly as the other packers prescribe.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(pack_col, T.LongType())]
    )

    # no type hints on _pack (module convention — see text._annot_kernel_udf)
    def _pack(key, pdf):
        pdf = pdf.sort_values(
            [token_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        base = int(key[0]) << 32
        room: list[int] = []  # remaining capacity per open pack
        assigned = []
        for t in pdf[token_col]:
            t = int(t)
            # least remaining room that still fits; ties → lowest pack id
            best, best_room = -1, None
            for i, r in enumerate(room):
                if t <= r and (best_room is None or r < best_room):
                    best, best_room = i, r
            if best < 0:
                room.append(budget - t)  # may go negative: oversized singleton
                best = len(room) - 1
                if t > budget:
                    room[best] = -1  # never accepts another row
            else:
                room[best] -= t
            assigned.append(base + best)
        pdf[pack_col] = pd.array(assigned, dtype="int64")
        return pdf

    shard = F.pmod(text.token_hash60(F.col(id_col).cast("string")), F.lit(n_shards))
    return (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandas(_pack, schema=out_schema.add("__shard", T.LongType()))
        .drop("__shard")
    )


def cluster_balanced_sample(
    df: DataFrame,
    embeddings: DataFrame,
    k_per_cluster: int,
    n_clusters: int = 8,
    iters: int = 3,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced corpus sampling: deterministic k-means over the
    embedding space (``similarity.kmeans``), then exactly
    ``k_per_cluster`` docs from each cluster (``sample_k_per_stratum``)
    — the embedding-space analogue of per-language balancing, for when
    the axis worth balancing (content domain, topic, register) has no
    label column. Inherits both parents' determinism: same corpus +
    salt → the same sample forever, larger k extends the smaller
    sample. Docs without a (non-NULL) embedding are excluded — a
    balanced sample can only balance what is embedded; audit the
    unembedded remainder with an anti-join if it matters.

    The embedding table's id joins the corpus id directly (the fixture
    tables share an id space — same contract as prepare_corpus's
    SemDeDup stage; map upstream when yours differ).

    Scale: the k-means driver metadata loop + ONE broadcastable
    (vec_id, cluster) join (assignment frame is corpus-row-sized but
    two-column narrow) + sample_k_per_stratum's one shuffle on the
    cluster id. ``n_clusters`` strata × window sort — hot clusters are
    bounded by construction (k-means splits mass), unlike natural
    labels.
    """
    from datapipelineetl_spark.operators import similarity  # noqa: PLC0415

    assign = (
        similarity.kmeans(
            embeddings, k=n_clusters, iters=iters,
            id_col=vec_id_col, vec_col=vec_col,
        )
        .filter(F.col("cluster").isNotNull())
        .select(
            F.col(vec_id_col).alias(id_col), F.col("cluster").alias(cluster_col)
        )
    )
    joined = df.join(assign, id_col)
    return sample_k_per_stratum(
        joined, k_per_cluster, cluster_col, key_col=id_col, salt=salt
    )


def _validate_blocklist_terms(blocklist) -> None:
    """Shared term validation for both blocklist forms (one definition
    so the two forms' loud-failure behavior cannot drift)."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    bad_terms = [w for w in blocklist if (not w.strip()) or w.strip() != w
                 or any(c.isspace() for c in w)]
    if bad_terms:
        raise ValueError(
            "blocklist terms must be single whitespace-free tokens "
            f"(whole-token matching can never match these): {bad_terms!r}"
        )


def flag_blocklisted(
    df: DataFrame,
    blocklist: list[str] | tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Blocklist screening — the C4 "bad words" rule (Raffel et al.
    2020 drop any page containing a word from the banned-words list):
    annotate every document with its blocklisted-TOKEN count and the
    keep decision. Matching is on whole lowered whitespace tokens (the
    repo tokenizer), not substrings — "classic" does not trip a block
    on "ass". Terms must therefore BE single tokens: a multi-word
    phrase or whitespace-padded term could never equal any token, so
    such entries are rejected loudly instead of silently never
    matching (phrase/substring policies belong in ``redact_pii``'s
    regex chain or an n-gram join). Returns the input plus
    (n_blocked_tokens, kept) — callers filter on ``kept`` (the
    annotate-then-filter shape of the quality ladder, so attrition
    stays auditable).

    Scale: the blocklist is a LITERAL array in the plan, scanned by an
    interpreted ``filter``/``array_contains`` lambda per token —
    O(tokens x terms) per row, fine for the hundreds-of-words lists
    this targets; still one narrow pass, zero shuffle, zero Python,
    no join. A much larger blocklist should move to a broadcast join
    on exploded tokens instead (HOF lambdas run interpreted — see
    NOTES.md).
    """
    _validate_blocklist_terms(blocklist)
    terms = F.array(*[F.lit(w.lower()) for w in blocklist])
    toks = text.tokens(F.coalesce(F.col(text_col), F.lit("")))
    blocked = F.size(F.filter(toks, lambda t: F.array_contains(terms, t)))
    return df.withColumn("n_blocked_tokens", blocked).withColumn(
        "kept", (F.col("n_blocked_tokens") == 0).cast("int")
    )


def flag_blocklisted_join(
    df: DataFrame,
    blocklist: DataFrame | list[str] | tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``flag_blocklisted`` for LARGE term lists — same output contract
    (input + ``n_blocked_tokens`` + ``kept``), different physical plan.

    The literal-array form scans an interpreted O(tokens x terms) HOF
    lambda per row, which is the right call for C4-sized lists
    (hundreds of terms: zero shuffle, zero join, and the list rides the
    plan). Interpreted lambdas don't get cheaper with term count,
    though, so past roughly 10^3-10^4 terms this variant wins: explode
    the lowered tokens, broadcast LEFT SEMI join against the term table
    (hash probe per token — O(tokens) per row, term count only affects
    the broadcast build), count hits per document, join the counts
    back. Crossover measurement in SCALING.md ("Round 9: blocklist
    crossover").

    ``blocklist`` may be a single-column DataFrame (any column name —
    the 10^4+ case, read from a table, never a driver literal) or a
    Python list. BOTH forms share ``flag_blocklisted``'s loud-failure
    contract: a DataFrame with more than one column is rejected (no
    silent ``columns[0]`` guess), and its terms are validated with one
    small eager job — NULL, empty, padded, or whitespace-bearing terms
    can never equal a whole token, so they raise instead of silently
    letting dirty documents through. The validation job scans only the
    term table (metadata-sized next to the corpus), mirroring the
    plan-construction-time raise of the list form.

    PRECONDITION: ``id_col`` must uniquely identify rows (the corpus-
    ladder invariant every id-keyed operator here shares). The hit
    counts aggregate per id and join back — duplicate ids would all
    receive the combined count, so a dirty row's clean sibling would
    be dropped. If ids may repeat, use the literal-HOF form (purely
    per-row) or dedup first.

    Scale: two shuffles more than the literal form — the hit-count
    partial agg (bounded by BLOCKED occurrences, near-zero on clean
    corpora) and the count join back onto ``df`` (AQE picks a broadcast
    build when the hit frame is small, which it is unless the corpus is
    mostly blocked). The semi-join itself stays map-side behind the
    term broadcast.
    """
    if isinstance(blocklist, DataFrame):
        if len(blocklist.columns) != 1:
            raise ValueError(
                "blocklist DataFrame must have exactly one column "
                f"(got {blocklist.columns!r}) — pass "
                "blocklist.select('term') to name the term column "
                "explicitly"
            )
        term_col = blocklist.columns[0]
        bad = (
            blocklist.select(F.col(term_col).alias("__term"))
            .where(
                F.col("__term").isNull()
                | (F.trim(F.col("__term")) != F.col("__term"))
                | (F.col("__term") == "")
                # Java \s == the tokenizer's TOKEN_SPLIT_RE class, so
                # this rejects exactly the terms the split makes
                # unmatchable (a U+00A0-bearing term survives both the
                # split and this check — it is a legitimate token)
                | F.col("__term").rlike(r"\s")
            )
            .limit(5)  # at most 5 rows: only the error message reads them
            .collect()
        )
        if bad:
            raise ValueError(
                "blocklist terms must be non-NULL single whitespace-"
                "free tokens (whole-token matching can never match "
                f"these): {[r['__term'] for r in bad]!r}"
            )
        terms_df = blocklist.select(
            F.lower(F.col(term_col)).alias("__term")
        ).distinct()
    else:
        _validate_blocklist_terms(blocklist)
        terms_df = (
            df.sparkSession.createDataFrame(
                [(w.lower(),) for w in blocklist], "`__term` string"
            ).distinct()
        )
    toks = df.select(
        F.col(id_col),
        # explode_outer, not explode: InferFiltersFromGenerate re-inlines
        # a non-outer generate's computed child below the Generate
        # (NOTES.md) — and empty/NULL texts must still survive to the
        # left join as zero-count docs anyway.
        F.explode_outer(
            text.tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("__tok"),
    )
    hits = (
        toks.join(
            F.broadcast(terms_df), toks["__tok"] == terms_df["__term"],
            "left_semi",
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_blocked"))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn(
            "n_blocked_tokens",
            F.coalesce(F.col("__n_blocked"), F.lit(0)).cast("int"),
        )
        .drop("__n_blocked")
        .withColumn("kept", (F.col("n_blocked_tokens") == 0).cast("int"))
    )
