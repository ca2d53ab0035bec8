"""Text-analysis operators for training-data pipelines (SURVEY.md §2.11).

Language-ID, quality scoring, token counting, and document fingerprinting
over a ``text`` column. Most operators are JVM-side column functions
(split / regexp / higher-order array functions) that run inside
whole-stage codegen; the fused annotation pass, NFC normalization, the
BPE kernels and the winnowing / SimHash fingerprints run as
Arrow-batched pandas code, the last two checked bit for bit against the
JVM-expression spellings in ``tests/jvm_reference.py``.

Hash parity note: fingerprints use md5 (same digest in every engine — and
the reference itself deduplicates by MD5, mypy/streaming.py:31-46), with
``conv(substr(md5(x),1,15),16,10)`` to get a deterministic 60-bit integer
hash that the DuckDB oracle reproduces as ``('0x'||substr(md5(x),1,15))::BIGINT``.
xxhash64 would be ~3× faster but engine-specific; swap in at deployment if
oracle parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import _arrow_rows

TOKEN_SPLIT_RE = r"\s+"

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Order matters: ties resolve to the earlier language (deterministic).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "了", "在", "和"),
}


def tokens(col: str | Column, distinct: bool = False) -> Column:
    """Whitespace tokenization (lowered). ``distinct`` → token set.

    Empty tokens are filtered AFTER the split rather than trimming
    before it: Spark's ``trim`` strips only ASCII spaces, so text edged
    with ``\\n``/``\\t`` would otherwise grow a phantom empty edge token
    (caught by the repetition-stats hypothesis test on ``'\\na a a'``).
    The DuckDB oracle fragment (queries_ext._SQL_TOKENS) replays the
    same list_filter — keep both sides in lockstep.
    """
    c = col if isinstance(col, Column) else F.col(col)
    t = F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")
    return F.array_distinct(t) if distinct else t


def token_hash60(tok: Column) -> Column:
    """Deterministic 60-bit integer hash of a token (md5-prefix; see module
    docstring for the cross-engine rationale)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: total tokens, distinct tokens, mean token length.

    A BPE-ish subword proxy (``n_subwords``) counts alpha runs + digit runs
    + punctuation marks separately — a cheap deterministic stand-in for a
    real tokenizer's piece count.
    """
    toks = tokens(text_col)
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "avg_token_len",
            F.round(
                F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
                / F.greatest(F.size(toks), F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "n_subwords",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio, alpha
    ratio, and a composite [0,1] score (heuristics in the C4/Gopher-rule
    style — deterministic, tune weights per corpus).

    Column expressions only. The stopword ``F.filter`` chain is an
    interpreted higher-order function, but the per-row work is light
    (one split + one membership test per token), so a standalone Arrow
    kernel loses to it: the Python boundary's fixed per-batch cost
    exceeds the interpreted-HOF savings (sf0.1 A/B of the quality+lang
    stage: kernel 0.99 s vs JVM 0.87 s median). The prepare ladder,
    which needs quality + language + fingerprint together, gets all
    three from one fused kernel instead (``_annot_kernel_udf``).
    """
    txt = F.col(text_col)
    length = F.length(txt)
    # single-char class counts via length difference — same values as
    # size(regexp_extract_all(...)) but no per-match array allocation
    # (measured ~12% off the warm scoring pass at sf0.1)
    n_punct = length - F.length(F.regexp_replace(txt, r"[^\w\s]", ""))
    toks = tokens(text_col)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    stop = F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"]))
    alpha = length - F.length(F.regexp_replace(txt, r"[A-Za-z]", ""))
    df = (
        df.withColumn("n_chars_m", length)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(length, F.lit(1)), 4))
        .withColumn("stopword_ratio", F.round(F.size(stop) / n_tok, 4))
        .withColumn("alpha_ratio", F.round(alpha / F.greatest(length, F.lit(1)), 4))
    )
    score = (
        F.when(length < 20, 0.0).otherwise(1.0) * 0.25
        + F.when((F.col("stopword_ratio") >= 0.01) & (F.col("stopword_ratio") <= 0.6), 1.0).otherwise(0.0) * 0.25
        + F.when(F.col("punct_ratio") <= 0.2, 1.0).otherwise(0.0) * 0.25
        + F.when(F.col("alpha_ratio") >= 0.5, 1.0).otherwise(0.0) * 0.25
    )
    return df.withColumn("quality_score", F.round(score, 4))


def _round4_half_up():
    """Spark's ``round(double, 4)``: HALF_UP over the double's shortest
    decimal repr (Scala ``BigDecimal.decimal`` = ``Double.toString``,
    which Python's ``repr(float)`` matches digit-for-digit)."""
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    q = Decimal("0.0001")

    def rnd(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    return rnd


def with_lang_id(
    df: DataFrame, text_col: str = "text", out: str = "lang_pred"
) -> DataFrame:
    """Language-ID via stopword-marker voting (n-gram heuristic class).

    Scores each language by distinct marker hits in the token set; argmax
    with deterministic tie-break on the LANG_MARKERS declaration order.
    ``und`` (undetermined) when no marker hits at all.

    Column expressions only: the per-token work is too light for a
    standalone Arrow kernel to amortize the Python boundary (measured
    with the quality stage, see ``with_quality_score``).
    """
    toks = tokens(text_col, distinct=True)
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))))
        for lang, markers in LANG_MARKERS.items()
    ]
    # argmax via greatest over (score, priority) structs: higher score wins,
    # then earlier declaration order (higher priority index).
    n = len(scores)
    structs = [
        F.struct(score.alias("s"), F.lit(n - i).alias("prio"), F.lit(lang).alias("lang"))
        for i, (lang, score) in enumerate(scores)
    ]
    best = F.greatest(*structs)
    return df.withColumn(out, F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und")))


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Exact-content fingerprint: md5 of the raw text (reference K4 parity:
    MD5 whole-file dedup, mypy/streaming.py:31-46)."""
    return df.withColumn(out, F.md5(F.col(text_col)))


def with_token_set_fingerprint(
    df: DataFrame, text_col: str = "text", out: str = "ts_fingerprint"
) -> DataFrame:
    """Canonicalized-content fingerprint: md5 of the sorted distinct token
    set — invariant to word order and repetition, i.e. exact detection of
    Jaccard-1.0 near-duplicates without any pairwise comparison.

    Scale: one narrow projection + one groupBy on the fingerprint — the
    O(n²) similarity join disappears for the equality case.

    Column expressions only: md5 dominates and is as fast in the JVM, so
    a standalone Arrow kernel is strictly slower (sf0.1 A/B: 0.54 s vs
    0.19 s median).
    """
    canon = F.array_join(F.array_sort(tokens(text_col, distinct=True)), " ")
    return df.withColumn(out, F.md5(canon))


def _annot_kernel_udf():
    """FUSED Arrow-batched annotation kernel: quality struct +
    language-ID + token-set fingerprint in ONE boundary crossing,
    tokenizing ONCE — the prepare ladder's stage-1/2 annotations, which
    as ``with_quality_score`` + ``with_lang_id`` +
    ``with_token_set_fingerprint`` tokenize the text three times. Each
    of those operators is cheaper as column expressions on its own (see
    their docstrings); fused, the Arrow round-trip is paid once for
    three operators' work, which wins (prepare A/B 3.40 → 2.84 s).

    Bit-exact against the three operators (parity rows in
    ``test_prepare_annotations_fused_matches_jvm``):

    - tokens: ``str.lower()`` + ``re.ASCII``-pinned ``\\s+`` split
      (Java ``\\s``), empty tokens dropped;
    - quality: ``re.ASCII`` punct/alpha classes (Java's default
      ``\\w`` is ASCII), lengths in code points, ratios rounded by
      ``_round4_half_up``, the score a sum of exact binary quarters;
    - lang: distinct-token ∩ marker-set votes, declaration-order
      tie-break (the greatest-of-structs), ``und`` for zero hits;
    - fingerprint: md5 of the space-joined sorted distinct tokens
      (code-point sort = ``array_sort``'s UTF-8 byte order), zero
      tokens → md5 of the empty string;
    - NULL text: NULL ratios with score 0.25 (the CASE-over-NULL
      fallthrough), ``und``, NULL fingerprint.

    Marked non-deterministic so the ``quality_score`` filter every
    caller applies cannot duplicate the ArrowEvalPython node."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    import hashlib as _hl  # noqa: PLC0415
    import re as _re  # noqa: PLC0415

    sre = _re.compile(r"\s+", _re.ASCII)
    punct_re = _re.compile(r"[^\w\s]", _re.ASCII)
    alpha_re = _re.compile(r"[A-Za-z]")
    stop_set = frozenset(LANG_MARKERS["en"])
    markers = [(lang, frozenset(ms)) for lang, ms in LANG_MARKERS.items()]
    rnd = _round4_half_up()

    def _a(s):
        n_chars: list[int | None] = []
        p_r: list[float | None] = []
        s_r: list[float | None] = []
        a_r: list[float | None] = []
        score: list[float] = []
        lang_out: list[str] = []
        fp_out: list[str | None] = []
        for txt in s.tolist():
            if not isinstance(txt, str):
                n_chars.append(None)
                p_r.append(None)
                s_r.append(None)
                a_r.append(None)
                score.append(0.25)  # len<20 NULL → otherwise-1.0 quarter
                lang_out.append("und")
                fp_out.append(None)
                continue
            length = len(txt)
            d = max(length, 1)
            pr = rnd((length - len(punct_re.sub("", txt))) / d)
            toks = [t for t in sre.split(txt.lower()) if t]
            sr = rnd(sum(1 for t in toks if t in stop_set) / max(len(toks), 1))
            ar = rnd((length - len(alpha_re.sub("", txt))) / d)
            sc = (
                (0.0 if length < 20 else 1.0) * 0.25
                + (1.0 if 0.01 <= sr <= 0.6 else 0.0) * 0.25
                + (1.0 if pr <= 0.2 else 0.0) * 0.25
                + (1.0 if ar >= 0.5 else 0.0) * 0.25
            )
            tok_set = set(toks)
            best_s, best_lang = 0, "und"
            for lang, ms in markers:
                c = len(tok_set & ms)
                # strict >: earlier declaration (higher prio) wins ties
                if c > best_s:
                    best_s, best_lang = c, lang
            n_chars.append(length)
            p_r.append(pr)
            s_r.append(sr)
            a_r.append(ar)
            score.append(rnd(sc))
            lang_out.append(best_lang)
            fp_out.append(_hl.md5(" ".join(sorted(tok_set)).encode("utf-8")).hexdigest())
        return pd.DataFrame(
            {
                "n_chars_m": pd.array(n_chars, dtype="Int32"),
                "punct_ratio": p_r,
                "stopword_ratio": s_r,
                "alpha_ratio": a_r,
                "quality_score": score,
                "lang_pred": lang_out,
                "ts_fingerprint": fp_out,
            }
        )

    # no type hints on _a: `from __future__ import annotations`
    # stringifies them before pandas_udf can inspect them (module
    # convention, see similarity._lsh_signatures_pandas)
    return pandas_udf(
        _a,
        "struct<n_chars_m:int,punct_ratio:double,stopword_ratio:double,"
        "alpha_ratio:double,quality_score:double,lang_pred:string,"
        "ts_fingerprint:string>",
    ).asNondeterministic()


def with_winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    out: str = "winnow_fps",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    SIGMOD'03): hash every character ``k``-gram, then keep the minimum
    hash of each sliding ``window`` of consecutive k-gram hashes. The
    selected-hash set is the document's fingerprint — position-robust
    (guaranteed to share a fingerprint with any copy that overlaps by
    ≥ window+k−1 chars), ~1/window the size of the full k-gram set.

    Output: ``out`` = sorted distinct selected hashes (array<long>).
    Degenerate inputs: text shorter than ``k`` → empty fingerprint set;
    fewer k-grams than ``window`` → the single global min (the standard
    short-document convention).

    ONE Arrow-batched pass — ``str.lower()`` (the established
    lowercase parity), per-character-k-gram md5-60 with a per-task gram
    memo, vectorized sliding-window min, ``np.unique`` for the
    distinct-sort. The expression spelling's ``transform``/
    ``array_min(slice)`` chains never enter whole-stage codegen, so
    every k-gram paid interpreted md5 and every window position an
    interpreted slice+min (stage CPU 10.5 s at sf0.1; the A/B lives in
    OPTIMIZATION_r16.md). ``test_winnowing_kernel_matches_jvm`` pins
    parity against that spelling (``tests/jvm_reference.py``). Marked
    non-deterministic so an inferred filter cannot duplicate the
    ArrowEvalPython node (the seq-kernel discipline).

    Downstream, docs sharing any fingerprint are collision candidates:
    ``explode(winnow_fps)`` + groupBy is the same bucketed O(n×fps)
    join shape as MinHash-LSH banding — never pairwise.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    return df.withColumn(out, _winnow_kernel_udf(k, window)(F.col(text_col)))


def _winnow_kernel_udf(k: int, window: int):
    """Arrow-batched BIT-EXACT winnowing fingerprints — the values of
    the JVM-expression ``with_winnowing_fingerprints`` in
    ``tests/jvm_reference.py`` at kernel speed (round 16).
    ``str.lower()`` matches ``F.lower`` and Python slicing matches
    ``substr`` (both count code points); the k-gram hash is the
    same md5-prefix 60-bit integer (per-task memo: 5-char grams repeat
    heavily across documents); ``sliding_window_view(...).min`` is the
    window-min and ``np.unique`` equals array_sort∘array_distinct on
    int64 (sorts ascending, no NULLs possible). NULL text and
    shorter-than-k text both produce that reference's empty array; fewer
    k-grams than ``window`` → the single global min."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    import hashlib as _hl  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    kk, ww = int(k), int(window)
    memo: dict[str, int] = {}
    empty: list[int] = []

    def _h(g: str) -> int:
        v = memo.get(g)
        if v is None:
            v = int(_hl.md5(g.encode("utf-8")).hexdigest()[:15], 16)
            memo[g] = v
        return v

    def _fps(s):
        out: list[list[int]] = []
        for txt in s.tolist():
            if not isinstance(txt, str):
                out.append(empty)
                continue
            t = txt.lower()
            n = len(t) - kk + 1
            if n < 1:
                out.append(empty)
                continue
            hs = np.fromiter((_h(t[i : i + kk]) for i in range(n)), dtype=np.int64, count=n)
            if n >= ww:
                mins = np.lib.stride_tricks.sliding_window_view(hs, ww).min(axis=1)
            else:
                mins = hs.min(keepdims=True)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    # no type hints on _fps: `from __future__ import annotations`
    # stringifies them before pandas_udf can inspect them (module
    # convention, see similarity._lsh_signatures_pandas)
    return pandas_udf(_fps, "array<long>").asNondeterministic()


def with_simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = 32,
) -> DataFrame:
    """SimHash document fingerprint over the distinct token set.

    Per bit b: sum over tokens of ±1 by token-hash bit b; bit set iff the
    sum is positive. Near-duplicate docs differ in few bits (compare with
    ``bit_count(simhash ⊕ simhash')``). Entirely per-row — no explode,
    no shuffle: ONE Arrow-batched pass (established tokenizer parity,
    md5-60 per distinct token with a per-task memo, then the whole
    bits×tokens bit-count matrix as one numpy reduction). The
    expression spelling paid ~``bits`` interpreted ops PER TOKEN (an
    aggregate/zip_with chain that never enters codegen; A/B in
    OPTIMIZATION_r16.md); ``test_simhash_kernel_matches_jvm`` pins
    parity against it (``tests/jvm_reference.py``). Marked
    non-deterministic (the seq-kernel discipline).
    """
    return df.withColumn(out, _simhash_kernel_udf(bits)(F.col(text_col)))


def _simhash_kernel_udf(bits: int):
    """Arrow-batched BIT-EXACT SimHash — the values of the
    JVM-expression ``with_simhash`` in ``tests/jvm_reference.py`` at
    kernel speed (round 16). Established tokenizer parity
    (``str.lower()`` + ``re.ASCII`` ``\\s+`` split + drop-empty,
    distinct), md5-prefix 60-bit token hash (per-task memo), then the
    per-bit ones-counts as ONE ``(tokens × bits)`` numpy reduction and
    the majority vote ``2·count_b > n`` packed into the signature.
    NULL text and zero-token docs both produce that reference's 0
    signature (NULL counts fall through every CASE; empty counts beat
    no majority)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    import hashlib as _hl  # noqa: PLC0415
    import re as _re  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    nb = int(bits)
    shifts = np.arange(nb, dtype=np.int64)
    weights = (np.int64(1) << shifts)
    sre = _re.compile(r"\s+", _re.ASCII)
    memo: dict[str, int] = {}

    def _h60(tok: str) -> int:
        v = memo.get(tok)
        if v is None:
            v = int(_hl.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            memo[tok] = v
        return v

    def _sig(s):
        out: list[int] = []
        for txt in s.tolist():
            if not isinstance(txt, str):
                out.append(0)
                continue
            toks = {t for t in sre.split(txt.lower()) if t}
            if not toks:
                out.append(0)
                continue
            hs = np.fromiter((_h60(t) for t in toks), dtype=np.int64, count=len(toks))
            ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
            out.append(int(weights[2 * ones > len(toks)].sum()))
        return pd.Series(out, dtype="int64")

    # no type hints on _sig (module convention — see _annot_kernel_udf)
    return pandas_udf(_sig, "long").asNondeterministic()


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """TF-IDF per (document, token): tf = in-document count, idf =
    ln(N / df) with df = documents containing the token.

    Plan: one explode → one (doc, token) aggregate → one token-level
    aggregate for df → broadcast the (tiny) token→df map back onto the
    term rows, cross-join the 1-row corpus count. Two shuffles total, both
    on keys that shrink the data (token cardinality ≪ term occurrences).
    At 100 TB: the df map is vocabulary-sized — broadcastable for any
    realistic vocab; `min_df` prunes hapax noise AND shrinks the broadcast.
    """
    terms = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token")).filter(
        F.col("token") != ""
    )
    tf = terms.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= min_df
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.log(F.col("n_docs") / F.col("df")))
        .withColumn("tf_idf", F.col("tf") * F.col("idf"))
        .select(id_col, "token", "tf", "df", "tf_idf")
    )


def shingles(col: str | Column, n: int = 3) -> Column:
    """Word n-gram shingles (for MinHash over n-grams instead of unigrams)."""
    toks = tokens(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def ngram_counts(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams — the vocabulary/phrase-statistics
    pass of corpus analysis (tokenizer vocab candidates, boilerplate
    detection feeding the collision-join caps). Deterministic ordering:
    count desc, then the n-gram itself.

    Scale: explode → ONE partial-aggregated shuffle on the n-gram
    (map-side combine collapses each partition's repeats first) →
    TakeOrderedAndProject for the top-k (per-partition k-heaps, no
    global sort). ``explode_outer`` per the computed-array rule
    (NOTES.md InferFiltersFromGenerate trap).
    """
    grams = df.select(
        F.explode_outer(F.array_distinct(shingles(text_col, n))).alias("ngram")
    ).filter(F.col("ngram").isNotNull() & (F.col("ngram") != ""))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("ngram"))
        .limit(k)
    )


def normalize_url(col: str | Column, drop_params: tuple[str, ...] = ("utm_", "fbclid", "gclid")) -> Column:
    """URL canonicalization — the pre-dedup step for web-crawl corpora
    (two fetches of one page must map to ONE key before exact dedup):
    lowercases scheme+host, strips default ports and fragments, drops
    tracking query params (prefix match for ``utm_``-style families),
    sorts the surviving params, and trims trailing slashes from the
    path. Pure JVM string/array expressions — narrow, codegen, no UDF.

    Not a full RFC 3986 normalizer (no percent-encoding case folding or
    dot-segment removal) — the documented 80% that collapses the
    overwhelming share of crawl aliases; extend the regex chain for the
    rest.
    """
    c = col if isinstance(col, Column) else F.col(col)
    # split off fragment, then query — F.get (not getItem): a URL without
    # '?' yields a 1-element split and getItem(1) THROWS under ANSI
    no_frag = F.get(F.split(c, "#", 2), 0)
    parts = F.split(no_frag, r"\?", 2)
    base, query = F.get(parts, 0), F.get(parts, 1)
    # lowercase scheme://host (everything before the path slash), keep path case
    head = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)
    path = F.substring(base, F.length(head) + 1, F.lit(1 << 30))
    head = F.lower(head)
    # scheme-SPECIFIC default ports: http:443 / https:80 are different
    # origins from the portless form and must NOT collapse
    head = F.regexp_replace(head, r"^(http://[^/:]+):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/:]+):443$", r"$1")
    path = F.regexp_replace(path, r"/+$", "")
    keep = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "")
        & ~reduce_or([p.startswith(d) if d.endswith("_") else (F.split(p, "=", 2).getItem(0) == d) for d in drop_params]),
    )
    qnorm = F.array_join(F.array_sort(keep), "&")
    return F.concat(
        head, path, F.when(qnorm == "", F.lit("")).otherwise(F.concat(F.lit("?"), qnorm))
    )


def reduce_or(conds: list[Column]) -> Column:
    """OR-fold a non-empty list of boolean columns (helper for lambda
    bodies, where Python's ``any`` can't apply)."""
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def extract_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — the document-tagging /
    index-term step over ``tf_idf``. Deterministic ordering: the score
    is rounded to 6 places BEFORE ranking (cross-engine ``ln`` can
    differ in the last ulp; ranking on the rounded value keeps the
    ordering — and the oracle replay — engine-independent), ties break
    on the token itself.

    Scale: tf_idf's two shrinking shuffles plus ONE window shuffle on
    the document key (term rows, not documents); rank ≤ k prunes to
    k rows per doc immediately.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    scored = tf_idf(df, id_col, text_col, min_df).withColumn(
        "tf_idf_r", F.round("tf_idf", 6)
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tf_idf_r").desc(), F.col("token"))
    return (
        scored.withColumn("keyword_rank", F.row_number().over(w))
        .filter(F.col("keyword_rank") <= k)
        .select(id_col, "keyword_rank", F.col("token").alias("keyword"), "tf_idf_r")
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_size: int | None = None,
    specials: tuple[str, ...] = ("<pad>", "<unk>"),
) -> DataFrame:
    """Corpus vocabulary: (token, token_id, count), ids dense from 0 —
    specials first (in declaration order), then tokens by count
    descending with the token itself as the deterministic tiebreak; the
    tokenizer-artifact build step of a training pipeline. ``min_count``
    prunes the long tail; ``max_size`` caps the vocabulary INCLUDING
    the specials.

    Scale: one partial-agg shuffle on the token, then ONE global-order
    window to assign dense ranks — the window input is the vocabulary
    (token cardinality), not the corpus, so a single-partition sort of
    it is fine at any corpus size (a 10M-row vocab sorts in seconds;
    if yours is larger, shard by count band first).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
        .filter(~F.col("token").isin(*specials))
    )
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    ranked = counts.withColumn(
        "token_id", (F.row_number().over(w) + len(specials) - 1).cast("long")
    )
    if max_size is not None:
        ranked = ranked.filter(F.col("token_id") < max_size)
    spark = df.sparkSession
    spec = spark.createDataFrame(
        [(t, i, 0) for i, t in enumerate(specials)],
        "token string, token_id long, count long",
    )
    if max_size is not None:
        spec = spec.filter(F.col("token_id") < max_size)
    return spec.unionByName(ranked.select("token", "token_id", "count"))


# encode_tokens' budget: a vocabulary of at most this many rows is
# fetched to the driver and joined as a broadcast local table (~84 MB
# at ~40 B a row; a max_size-capped production vocab is 10^5-10^6 rows)
_VOCAB_ROWS = 1 << 21


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk: str = "<unk>",
    out: str = "input_ids",
) -> DataFrame:
    """Encode each document's token stream to vocabulary ids
    (``array<long>``, original order, out-of-vocabulary tokens → the
    ``unk`` id) — the text→tensor boundary of a training pipeline.

    Scale: explode to (doc, pos, token) — O(corpus tokens), narrow —
    then ONE equi-join against the vocabulary and one groupBy(doc) with
    an in-aggregate sorted rebuild (array_sort over (pos, id) structs —
    the same no-second-shuffle reassembly as
    ``remove_boilerplate_lines``).

    Which path joins the vocabulary. ONE ``limit(_VOCAB_ROWS + 1)``
    Arrow fetch (``_arrow_rows``) runs the vocab plan once and probes
    its size. At most ``_VOCAB_ROWS`` (2,097,152) rows: the unk id comes
    from the fetched rows and the join side is an in-memory local table
    the planner broadcasts. Over budget: the vocab is materialized once
    with ``localCheckpoint`` (the unk lookup is an action, which would
    otherwise run the vocab plan a second time at the join) and joined
    distributed. Plan statistics cannot make this choice:
    ``build_vocab``'s estimate overflows to ~9.2×10¹⁸ B for
    q_encode_tokens' 33-row vocab. Both paths give the same rows
    (``test_encode_tokens_local_matches_checkpoint``).

    Edge values, on either path: a NULL or empty text encodes to an
    empty array (never a dropped row); documents with a NULL id share
    one output row; a vocab token listed twice fans that token out to
    both ids; a vocab without an ``unk`` row raises ``ValueError``.
    """
    import pandas as pd  # noqa: PLC0415

    t = _arrow_rows(vocab.select("token", "token_id"), _VOCAB_ROWS)
    if t is not None:
        tok, tid = t.column("token").to_pylist(), t.column("token_id").to_pylist()
        unk_ids = [i for w, i in zip(tok, tid) if w == unk]
        if not unk_ids:
            raise ValueError(f"vocab has no {unk!r} entry")
        unk_id = unk_ids[0]
        # pandas, not a list: under Arrow a pandas createDataFrame
        # becomes a LocalRelation — a list builds a pickled-row RDD
        # whose every consumer launches Python workers just to
        # deserialize it (measured ~0.3 s per action, which ate the
        # win of skipping the checkpoint)
        vocab = F.broadcast(
            df.sparkSession.createDataFrame(
                pd.DataFrame({"token": pd.Series(tok, dtype=object),
                              "token_id": pd.Series(tid, dtype=object)}),
                schema="token string, token_id long",
            )
        )
    else:
        vocab = vocab.localCheckpoint(eager=True)
        # one row
        unk_row = vocab.filter(F.col("token") == unk).select("token_id").first()
        if unk_row is None:
            raise ValueError(f"vocab has no {unk!r} entry")
        unk_id = unk_row[0]
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__pos", "token"
        ),
    )
    joined = toks.join(vocab.select("token", "token_id"), "token", "left")
    # empty/NULL docs tokenize to an empty array, which posexplode_outer
    # keeps as one NULL-token row; it survives to the aggregate and is
    # filtered INSIDE it (NULL != '' is not true), so such docs come
    # back with an empty id array instead of vanishing at the groupBy
    return joined.groupBy(id_col).agg(
        F.transform(
            F.filter(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__pos"),
                            F.col("token"),
                            F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("tid"),
                        )
                    )
                ),
                lambda s: s["token"] != "",
            ),
            lambda s: s["tid"],
        ).alias(out)
    )


# Common UTF-8-read-as-cp1252 mojibake digraphs → the character the
# original bytes encoded. Curated to sequences that are unambiguous
# mojibake (they essentially never occur as intended text); the DuckDB
# oracle replays the SAME table (queries_batch13 builds its SQL from
# this dict), so the repair is value-checked cross-engine. Full
# confidence-scored repair (ftfy-style re-decode loops) is a deployment
# swap — this is the deterministic, plan-friendly core.
MOJIBAKE_MAP: dict[str, str] = {
    "â€™": "’",  # a-circumflex euro tm -> right single quote
    "â€˜": "‘",  # -> left single quote
    "â€œ": "“",  # -> left double quote
    "â€\u009d": "”",  # -> right double quote (0x9d is a C1 control)
    "â€“": "–",  # -> en dash
    "â€”": "—",  # -> em dash
    "â€¦": "…",  # -> ellipsis
    "Ã©": "é",  # -> e acute
    "Ã¨": "è",  # -> e grave
    "Ãª": "ê",  # -> e circumflex
    "Ã¡": "á",  # -> a acute
    "Ã­": "í",  # -> i acute
    "Ã³": "ó",  # -> o acute
    "Ãº": "ú",  # -> u acute
    "Ã±": "ñ",  # -> n tilde
    "Ã¼": "ü",  # -> u umlaut
    "Ã¤": "ä",  # -> a umlaut
    "Ã¶": "ö",  # -> o umlaut
    "ÃŸ": "ß",  # -> sharp s
    "Ã§": "ç",  # -> c cedilla
}

# zero-width chars + BOM that survive scraping; NBSP handled separately
# (it maps to a SPACE, not to deletion)
_ZERO_WIDTH_RE = "[\u200b\u200c\u200d\ufeff]"
# C0 controls except \t and \n (CRLF/CR already folded to \n), DEL, and
# the C1 block (never legitimate in text; also catches the U+009D a
# partially-unrepaired cp1252 round-trip leaves behind)
_CONTROL_RE = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"


def normalize_text(
    df: DataFrame, text_col: str = "text", nfc: bool = True
) -> DataFrame:
    """Unicode cleanup — the pass every crawled corpus gets before any
    tokenization or hashing (C4/CCNet-style), IN PLACE on ``text_col``:

    1. mojibake digraph repair (``MOJIBAKE_MAP``, literal replaces,
       longest key first so no repair consumes another's prefix);
    2. NFC normalization (``nfc=True``; e + combining acute becomes the
       precomposed form, so hashing/dedup see ONE spelling);
    3. line-ending canonicalization (CRLF and lone CR -> LF);
    4. zero-width chars + BOM removed;
    5. remaining C0 control chars (except tab/newline) + DEL removed;
    6. NBSP -> regular space.

    NULL stays NULL (every step is null-propagating).

    Scale: steps 1 and 3-6 are literal/regexp ``replace`` chains —
    whole-stage codegen, zero shuffle. NFC has no Spark built-in, so
    step 2 is the one Arrow-batched Pandas UDF (vectorized
    ``unicodedata.normalize``; Unicode's normalization-stability policy
    guarantees the result matches any other conformant implementation —
    the DuckDB oracle's ``nfc_normalize`` — for assigned codepoints).
    Pass ``nfc=False`` on known-NFC corpora to stay fully JVM-side.
    """
    c: Column = F.col(text_col)
    for bad in sorted(MOJIBAKE_MAP, key=len, reverse=True):
        c = F.replace(c, F.lit(bad), F.lit(MOJIBAKE_MAP[bad]))
    if nfc:
        from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

        # NO annotations on the fn, and the type as a string argument:
        # under `from __future__ import annotations` pandas_udf sees
        # stringified hints and rejects the signature (NOTES.md)
        def _nfc(s):
            import unicodedata  # noqa: PLC0415

            return s.map(
                lambda v: v if v is None else unicodedata.normalize("NFC", v)
            )

        c = pandas_udf(_nfc, "string")(c)
    c = F.replace(c, F.lit("\r\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\n"))
    c = F.regexp_replace(c, _ZERO_WIDTH_RE, "")
    c = F.regexp_replace(c, _CONTROL_RE, "")
    c = F.replace(c, F.lit("\u00a0"), F.lit(" "))
    return df.withColumn(text_col, c)


def unigram_logprob(
    df: DataFrame,
    lm_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    out: str = "avg_logprob",
    lm_counts: DataFrame | None = None,
) -> DataFrame:
    """Language-model quality scoring, CCNet-style (Wenzek et al. 2020
    filter wikis/crawls by LM perplexity; here the LM is the exact
    add-``alpha`` unigram model so the score is deterministic and
    oracle-replayable): per document, the mean natural-log probability
    of its tokens under the model fit on ``lm_df`` (default: the corpus
    itself — self-perplexity flags statistical outliers; pass a
    high-quality reference corpus for the CCNet selection setup).
    ``exp(-avg_logprob)`` is the per-token perplexity. OOV tokens take
    the smoothed zero-count mass: p(t) = (count + alpha) /
    (total + alpha * (V + 1)), the +1 reserving one pseudo-type for
    unseen tokens. Returns (id_col, n_tokens, out); tokenless docs get
    n_tokens 0 and NULL score, never a dropped row.

    ``lm_counts`` accepts an already-fit (token, count) frame instead of
    a document corpus — the streaming tie-in:
    ``streaming.runner.read_lm_counts`` folds an incrementally
    maintained count store into exactly this shape, so a crawl's LM
    advances batch-by-batch with no refit over history. Mutually
    exclusive with ``lm_df``.

    Scale: the LM fit is one token-count shuffle (partial-agg) over the
    REFERENCE corpus, materialized once (vocabulary-sized, the
    ``build_vocab`` discipline); scoring is one explode + one
    vocab-join (AQE broadcasts the dimension-sized LM) + one
    groupBy(doc). The totals row is a 1-row scalar crossJoin — the
    decorrelated-scalar shape on the plan-lint allowlist, one row
    replicated, no pair blowup.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if lm_counts is not None and lm_df is not None:
        raise ValueError("pass lm_df OR lm_counts, not both")
    if lm_counts is not None:
        counts = lm_counts.select(
            F.col("token").alias("__tok"), F.col("count").alias("__cnt")
        )
    else:
        lm = lm_df if lm_df is not None else df
        counts = lm.select(F.explode(tokens(text_col)).alias("__tok")).groupBy(
            "__tok"
        ).agg(F.count(F.lit(1)).alias("__cnt"))
    # referenced by totals AND the score join
    counts = counts.localCheckpoint(eager=True)
    totals = counts.agg(
        F.coalesce(F.sum("__cnt"), F.lit(0)).alias("__total"),
        F.count(F.lit(1)).alias("__vocab"),
    )
    toks = df.select(
        F.col(id_col),
        F.explode_outer(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__tok"
        ),
    )
    scored = (
        toks.join(counts, "__tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__lp",
            F.when(
                F.col("__tok").isNotNull(),
                F.log(
                    (F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(alpha))
                    / (F.col("__total") + F.lit(alpha) * (F.col("__vocab") + 1))
                ),
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("__lp").alias("n_tokens"),
        F.round(F.avg("__lp"), 5).alias(out),
    )


def calibrate_quality(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "quality_pct",
) -> DataFrame:
    """Per-group rank calibration of the composite quality score: each
    document's score becomes its percentile WITHIN its ``group_col``
    (source/crawl/domain), ``(rank - 1) / (n - 1)`` with the id as the
    deterministic tiebreak (a 1-doc group scores 0.0). Heuristic score
    distributions differ per source — a fixed global threshold then
    over-selects easy sources and starves hard ones; rank-normalizing
    first makes one threshold mean the same coverage everywhere (the
    same reasoning as CCNet's per-language perplexity buckets).

    Scale: the scoring pass is narrow codegen; calibration is ONE
    shuffle on ``group_col`` and a per-group window — partitioned by
    source, so parallelism follows source cardinality. A single source
    holding most of the corpus serializes its window into one task: at
    that shape, two-phase rank it (the ``select_budget`` offsets
    pattern) or calibrate on a per-source sample.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    scored = with_quality_score(df, text_col)
    w = Window.partitionBy(group_col).orderBy(
        F.col("quality_score"), F.col(id_col)
    )
    wc = Window.partitionBy(group_col)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .withColumn(
            out,
            F.round(
                (F.col("__rn") - 1)
                / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"),
                6,
            ),
        )
        .drop("__rn", "__n")
    )


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 100,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative document, token,
    and DISTINCT-token counts at corpus checkpoints — how fast the
    vocabulary grows as the corpus does (sub-linear for natural text;
    a linear curve flags id-like/generated tokens, a flat one flags
    heavy duplication). Checkpoints are equal-width ``id_col`` ranges
    (``bucket = floor(id / bucket_width)``): with dense ingest ids the
    buckets are equal-count, and the range form needs NO global
    ordinal — so no corpus-wide window anywhere. A token counts as new
    in the bucket of its FIRST occurrence (min id).

    Returns (bucket, bucket_start, docs_cum, tokens_cum, vocab_cum).

    Scale: one explode + one groupBy(token) min-id (the only
    corpus-sized shuffle), one narrow per-doc count, then all windows
    run over the BUCKET-cardinality frame (corpus_size/bucket_width
    rows — metadata-sized by construction, the documented vocab-rank
    window class).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    bucket = (F.col(id_col) / bucket_width).cast("long")
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    new_per_bucket = (
        toks.groupBy("__tok")
        .agg(F.min(id_col).alias("__first"))
        .groupBy((F.col("__first") / bucket_width).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("__new_toks"))
    )
    per_bucket = (
        df.select(
            bucket.alias("bucket"),
            F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__nt"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("__docs"),
            F.sum("__nt").cast("long").alias("__toks"),
        )
    )
    joined = per_bucket.join(new_per_bucket, "bucket", "left").fillna(
        {"__new_toks": 0}
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "bucket",
        (F.col("bucket") * bucket_width).alias("bucket_start"),
        F.sum("__docs").over(w).cast("long").alias("docs_cum"),
        F.sum("__toks").over(w).cast("long").alias("tokens_cum"),
        F.sum("__new_toks").over(w).cast("long").alias("vocab_cum"),
    )


def perplexity_buckets(
    df: DataFrame,
    group_col: str | None = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_df: DataFrame | None = None,
    lm_counts: DataFrame | None = None,
    alpha: float = 0.5,
    out: str = "ppl_bucket",
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020 split each
    language's crawl into head/middle/tail by LM perplexity and treat
    the buckets as quality tiers): rank documents by ``unigram_logprob``
    WITHIN ``group_col`` (per-language thresholds — absolute perplexity
    isn't comparable across languages) and deal them into ``n_buckets``
    equal-count buckets, 0 = least perplexing (head). Bucket boundaries
    are rank-based (ntile semantics via explicit row_number/count — the
    replayable form), ties broken by id; docs the LM can't score
    (no tokens) get a NULL bucket, never a dropped row. Pass
    ``group_col=None`` for one global bucketing.

    Scale: the unigram_logprob cost + ONE shuffle on the group and a
    per-group window — same skew caveat as ``calibrate_quality``
    (two-phase-rank a dominant group).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    scored = unigram_logprob(
        df, lm_df=lm_df, id_col=id_col, text_col=text_col,
        alpha=alpha, lm_counts=lm_counts,
    )
    # annotate, don't project: every input column survives (the
    # calibrate_quality contract) — only the score and bucket are added
    joined = df.join(scored.select(id_col, "avg_logprob"), id_col)
    grp = [group_col] if group_col else []
    scorable = F.col("avg_logprob").isNotNull()
    # higher avg_logprob = less perplexing = lower (better) bucket
    w = Window.partitionBy(*grp).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col)
    )
    wc = Window.partitionBy(*grp)
    ranked = (
        joined.filter(scorable)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .withColumn(
            out,
            ((F.col("__rn") - 1) * n_buckets / F.col("__n")).cast("int"),
        )
        .drop("__rn", "__n")
    )
    unscorable = joined.filter(~scorable).withColumn(
        out, F.lit(None).cast("int")
    )
    return ranked.unionByName(unscorable)


def perplexity_thresholds(
    df: DataFrame,
    group_col: str | None = "lang",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm_df: DataFrame | None = None,
    lm_counts: DataFrame | None = None,
    alpha: float = 0.5,
) -> DataFrame:
    """Calibrate FIXED perplexity-bucket cutoffs from a sample — the
    CCNet production form (Wenzek et al. 2020 computed head/middle/tail
    thresholds once on a held-out sample, then bucketed the whole crawl
    by comparison; rank-based ``perplexity_buckets`` is the
    calibration-time view, this is what ships). Returns one row per
    group: (group_col, ppl_thresholds) where ``ppl_thresholds[b]`` is
    the MINIMUM avg_logprob inside rank-bucket ``b`` of the
    calibration frame, for b = 0..n_buckets-2 (descending). A new
    document's bucket is the count of thresholds its score falls
    strictly BELOW (``bucket_by_thresholds``) — on the calibration
    frame itself this reproduces the rank buckets exactly when scores
    are distinct at the boundaries; boundary TIES resolve to the
    better bucket (rank splits ties arbitrarily by id, a fixed
    threshold cannot — the deterministic choice is the generous one).
    Pass ``group_col=None`` for one global threshold row.

    Scale: ``perplexity_buckets``'s cost on the CALIBRATION sample
    only (the point: the sample is small) + one k-row aggregate;
    output is groups × (n_buckets-1) doubles — broadcast metadata.
    """
    if n_buckets < 2:
        raise ValueError(
            f"calibrating cutoffs needs n_buckets >= 2, got {n_buckets}"
        )
    bucketed = perplexity_buckets(
        df, group_col=group_col, n_buckets=n_buckets, id_col=id_col,
        text_col=text_col, lm_df=lm_df, lm_counts=lm_counts, alpha=alpha,
    ).filter(F.col("ppl_bucket") < n_buckets - 1)
    grp = [group_col] if group_col else []
    per_bucket = bucketed.groupBy(*grp, "ppl_bucket").agg(
        F.min("avg_logprob").alias("__lo")
    )
    return per_bucket.groupBy(*grp).agg(
        # sort_array on (bucket, lo) structs → thresholds ordered by
        # bucket 0..n-2; scores DESCEND with bucket so the array is
        # descending in score
        F.transform(
            F.sort_array(F.collect_list(F.struct("ppl_bucket", "__lo"))),
            lambda s: s["__lo"],
        ).alias("ppl_thresholds")
    )


def bucket_by_thresholds(
    df: DataFrame,
    thresholds: DataFrame,
    group_col: str | None = "lang",
    score_col: str = "avg_logprob",
    out: str = "ppl_bucket",
) -> DataFrame:
    """Assign perplexity buckets from FIXED calibrated cutoffs
    (``perplexity_thresholds``): bucket = number of thresholds the
    score falls strictly below — 0 (head) for scores at or above every
    cutoff, n_buckets-1 (tail) for scores below all of them. NULL
    scores (tokenless docs) and groups ABSENT from the threshold frame
    (a language calibration never saw) get a NULL bucket, never a
    dropped row. The group join is NULL-SAFE: a threshold row
    calibrated from a NULL-group partition (``perplexity_thresholds``
    groups NULL like any other key) matches NULL-group docs, so the
    fixed-cutoff path buckets exactly the population the rank path
    ranks. The shared bucketing kernel of the batch and
    streaming paths — one definition, so their parity is by
    construction.

    Scale: one broadcast join on the group (the threshold frame is
    groups × (n_buckets-1) doubles — metadata-sized BY construction)
    + one narrow array fold per row. Stream-safe: no shuffle, no
    state — exactly what a per-micro-batch bucket annotation needs.
    """
    t = thresholds
    if group_col:
        # eqNullSafe so a NULL-group calibration row matches NULL-group
        # docs (a plain equi-join would silently leave them uncalibrated)
        t = t.withColumnRenamed(group_col, "__thr_grp")
        joined = df.join(
            F.broadcast(t),
            df[group_col].eqNullSafe(t["__thr_grp"]),
            "left",
        ).drop("__thr_grp")
    else:
        # 1-row global threshold frame (the decorrelated-scalar shape)
        joined = df.crossJoin(F.broadcast(t))
    bucket = F.when(
        F.col(score_col).isNotNull() & F.col("ppl_thresholds").isNotNull(),
        F.size(
            F.filter(
                F.col("ppl_thresholds"), lambda th: F.col(score_col) < th
            )
        ),
    ).cast("int")
    return joined.withColumn(out, bucket).drop("ppl_thresholds")


_BPE_EOW = "</w>"


def _bpe_merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left-to-right single-pass merge of adjacent (a, b) → a+b inside a
    symbol array, as ONE codegen fold (no Python, no explode): the
    accumulator carries the emitted prefix plus the pending previous
    symbol; overlapping occurrences resolve left-to-right ("a a a" with
    merge (a,a) → ["aa", "a"]), the standard BPE convention."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        merged = acc["pend"].isNotNull() & (acc["pend"] == a) & (s == b)
        flushed = F.when(
            acc["pend"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
        return F.struct(
            F.when(merged, F.concat(acc["out"], F.array(F.lit(a + b))))
            .otherwise(flushed)
            .alias("out"),
            F.when(merged, F.lit(None).cast("string")).otherwise(s).alias("pend"),
        )

    def fin(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


# train_bpe's budget: the one-task kernel keeps at most this many
# distinct words (~0.85 GB at ~50 B a word; a full crawl's table is
# ~10^7 words); a larger word table trains in the per-merge job loop
_BPE_WORDS = 1 << 24


def _bpe_train_kernel(n_merges: int, min_pair_count: int, budget: int):
    """mapInPandas generator: the full Sennrich merge recursion over one
    partition holding the whole (word, count) vocabulary. Emits
    kind='w' rows (word, count, syms — the final segmented state) and
    kind='m' rows (a, b, cnt, ord — the ordered merge table). Exact
    semantics of the iterative form: per-occurrence weighted pair
    counts, argmax by (count desc, pair lexicographic — Python tuple
    compare on str == Spark's code-point orderBy), left-to-right
    no-overlap merge application, stop below ``min_pair_count``.

    The kernel is its own size probe: once the table passes ``budget``
    words it keeps no more of them, drains its input and emits the one
    row kind='x' (over budget) instead."""
    import pandas as pd  # noqa: PLC0415

    nm, mpc = int(n_merges), int(min_pair_count)
    cols = ("kind", "word", "count", "syms", "a", "b", "cnt", "ord")

    def gen(batches):
        words: dict[str, int] = {}
        for pdf in batches:
            if len(words) > budget:
                continue
            for w, c in zip(pdf["word"].tolist(), pdf["count"].tolist()):
                words[w] = int(c)
        if len(words) > budget:
            yield pd.DataFrame({c: ["x"] if c == "kind" else [None] for c in cols})
            return
        syms = {w: list(w) + [_BPE_EOW] for w in words}
        merges: list[tuple[str, str, int]] = []
        for _ in range(nm):
            pc: dict[tuple[str, str], int] = {}
            for w, c in words.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    k = (s[i], s[i + 1])
                    pc[k] = pc.get(k, 0) + c
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            if cnt < mpc:
                break
            merges.append((a, b, cnt))
            for w, s in syms.items():
                out: list[str] = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        wlist = list(words)
        yield pd.DataFrame(
            {
                "kind": ["w"] * len(wlist) + ["m"] * len(merges),
                "word": wlist + [None] * len(merges),
                "count": [words[w] for w in wlist] + [None] * len(merges),
                "syms": [syms[w] for w in wlist] + [None] * len(merges),
                "a": [None] * len(wlist) + [m[0] for m in merges],
                "b": [None] * len(wlist) + [m[1] for m in merges],
                "cnt": [None] * len(wlist) + [m[2] for m in merges],
                "ord": [None] * len(wlist) + list(range(len(merges))),
            }
        )

    return gen


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 1,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Distributed byte-pair-encoding merge training (Sennrich et al.
    2016 — the real tokenizer-training step behind ``build_vocab``'s
    word-level artifact): ONE corpus-sized shuffle builds the
    (word, count) table, and the merge loop runs on that
    VOCABULARY-sized table only: each merge takes the adjacent symbol
    pair of the highest count weighted by word count (ties to (left,
    right) lexicographic — fully deterministic) and merges it in every
    word, left to right. Words start as characters + a ``</w>``
    end-of-word marker. Training stops early when no pair reaches
    ``min_pair_count``.

    Returns ``(merges, words)``: the ordered merge table
    [(left, right, weighted_count)] — THE BPE artifact a tokenizer
    ships — and the final segmented word table
    (word, count, syms array<string>) for inspection/encoding.

    Scale: the corpus is touched once (word counts); per merge the work
    is O(vocabulary × word length) — independent of corpus size, the
    property that makes BPE trainable on a 100 TB crawl (the word table
    of even a huge crawl is ~10⁷ rows). Only the merge list touches the
    driver.

    Which path trains. The ENTIRE merge loop runs in one
    single-partition Arrow ``mapInPandas`` pass over the word table
    (``_bpe_train_kernel``) — one job, where the per-merge loop pays 2
    driver round-trip jobs per merge (q_token_fertility's plan was 44
    stages of almost pure per-job fixed cost at n_merges=12). BPE is
    integer counts + code-point string comparison only — no floats — so
    the kernel is bit-identical by construction. The kernel is also the
    size probe: past ``_BPE_WORDS`` (16,777,216) distinct words it emits
    an over-budget marker, read in the same collect as the merges, and
    the driver then runs the per-merge loop, which never holds the word
    table in one task: per merge, weighted adjacent-pair counts
    (explode pairs × word count, one partial-agg groupBy), the argmax
    pair collected (count desc, then (left, right) lexicographic) and
    the merge applied to every word's symbol array by one codegen fold,
    each iteration's word table eagerly checkpointed so the fold does
    not stack ``n_merges`` deep in lineage. That fallback recomputes the
    corpus word counts once. Both paths give the same rows
    (``test_train_bpe_kernel_matches_iterate``).

    Edge values, on either path: NULL and empty texts contribute no
    words; a repeated word is one table row with its summed count;
    ``n_merges=0`` returns no merges and the character split.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")
    counts = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    rows = (
        counts.repartition(1)
        .mapInPandas(
            _bpe_train_kernel(n_merges, min_pair_count, _BPE_WORDS),
            "kind string, word string, count long, syms array<string>, "
            "a string, b string, cnt long, ord int",
        )
        .localCheckpoint(eager=True)
    )
    # n_merges rows, or the over-budget marker (ord NULL), which sorts first
    table = rows.filter(F.col("kind") != "w").orderBy("ord").collect()
    if not table or table[0].kind != "x":
        return [(r.a, r.b, int(r.cnt)) for r in table], rows.filter(
            F.col("kind") == "w"
        ).select("word", "count", "syms")
    words = counts.withColumn(
        "syms",
        F.concat(
            F.split(F.col("word"), ""),
            F.array(F.lit(_BPE_EOW)),
        ),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        n = F.size("syms")
        pairs = (
            words.select(
                F.col("count"),
                F.explode_outer(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.greatest(n - 1, F.lit(0))),
                        F.slice(F.col("syms"), 2, F.greatest(n - 1, F.lit(0))),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            .filter(F.col("p").isNotNull())
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("count").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()  # one row
        if not top or top[0].cnt < min_pair_count:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((a, b, cnt))
        words = words.withColumn(
            "syms", _bpe_merge_fold(F.col("syms"), a, b)
        ).localCheckpoint(eager=True)
    return merges, words


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out: str = "pieces",
) -> DataFrame:
    """Apply a trained BPE merge table to a text column: each token is
    split to characters + ``</w>`` and the merges replay IN TRAINING
    ORDER (the BPE inference contract — order is the artifact), yielding
    the subword piece sequence per document. The real-piece-count
    successor to ``with_token_stats``'s ``n_subwords`` proxy.

    Semantics: one left-to-right single-pass merge per table entry,
    applied in training order, each entry visited exactly once. That is
    NOT the heap-style "lowest-rank pair anywhere, repeat" inference —
    if a later merge re-creates an earlier merge's pair string (possible
    when two different merges build the same symbol string), the pass
    does not go back.

    One Arrow ``mapInPandas`` pass for any table. The rank-dict loop is
    exactly the per-merge pass with its no-op passes skipped: a cursor
    walks the table; each step jumps to the smallest rank >= cursor
    whose pair is currently adjacent somewhere in the word (every
    skipped rank's pass would have emitted the word unchanged) and runs
    that one left-to-right pass. Per word the cost is O(applied merges x
    word length) — independent of table size; the table itself is one
    pair->ranks hash (the depth-2 trie BPE actually needs: merges match
    adjacent PAIRS, never longer prefixes). Distinct words memoize
    within each task, so the Zipf head of any real corpus segments
    once per task, not once per occurrence. The merge table ships once
    per task in the closure (tens of thousands of entries = a few MB).
    The Spark-expression spelling (one ``aggregate`` fold per merge)
    runs interpreted and grows its plan with the table, so it is slower
    from the first merge on (SCALING.md "BPE segment crossover"); it is
    the parity reference ``tests/jvm_reference.bpe_segment``.

    Edge values: a NULL text gives NULL pieces; an empty or
    all-whitespace text gives an empty array; tokens split on Java's
    ASCII ``\\s`` (an NBSP stays inside its token); repeated merge
    entries each run their own pass; an existing ``out`` column is
    replaced in place.
    """
    import bisect  # noqa: PLC0415
    import re as _re  # noqa: PLC0415

    pair_ranks: dict[tuple[str, str], list[int]] = {}
    for rank, m in enumerate(merges):
        pair_ranks.setdefault((m[0], m[1]), []).append(rank)
    merge_pairs = [(m[0], m[1]) for m in merges]
    # re.ASCII pins Python's \s to [ \t\n\r\f\v] — exactly Java's
    # default \s, which is what ``tokens``' Spark-side split uses.
    # Without it Python \s also splits Unicode whitespace (NBSP, thin
    # space, ideographic space) and tokenizes real web text differently
    # from the rest of the package (parity test covers NBSP).
    split_re = _re.compile(TOKEN_SPLIT_RE, _re.ASCII)
    eow = _BPE_EOW
    # withColumn's schema: an existing ``out`` column is replaced in place
    out_schema = df.withColumn(out, F.lit(None).cast("array<string>")).schema
    text_name = text_col

    def seg_word(word: str) -> list[str]:
        syms = list(word) + [eow]
        cursor = 0
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                ranks = pair_ranks.get((syms[i], syms[i + 1]))
                if ranks is None:
                    continue
                j = bisect.bisect_left(ranks, cursor)
                if j < len(ranks) and (best is None or ranks[j] < best):
                    best = ranks[j]
            if best is None:
                break
            a, b = merge_pairs[best]
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
            cursor = best + 1
        return syms

    def kernel(pdfs):
        cache: dict[str, list[str]] = {}

        def seg_text(t):
            if t is None:
                return None  # tokens(NULL) -> NULL pieces
            pieces: list[str] = []
            for w in split_re.split(t.lower()):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = seg_word(w)
                pieces.extend(got)
            return pieces

        for pdf in pdfs:
            pdf = pdf.copy()
            pdf[out] = pdf[text_name].map(seg_text)
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def bigram_logprob(
    df: DataFrame,
    lm_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    alpha: float = 0.5,
    out: str = "avg_logprob",
) -> DataFrame:
    """Interpolated bigram language-model scoring — the next n-gram
    step above ``unigram_logprob`` toward the KenLM-style perplexity
    filters of CCNet/Gopher: per token,
    ``p = lam * p_bigram_MLE + (1 - lam) * p_unigram_addalpha`` where
    ``p_bigram_MLE = c(prev, tok) / c(prev as context)`` (0 when the
    context or the pair is unseen) and the unigram term is the same
    add-``alpha`` model as ``unigram_logprob`` — so every token keeps
    positive mass and the first token of a document backs off to the
    unigram model outright. Returns (id_col, n_tokens, out) with the
    mean natural-log probability rounded to 5 decimals; tokenless docs
    get n_tokens 0 and a NULL score, never a dropped row.

    The model fits on ``lm_df`` (default: the corpus itself). The
    oracle replays the full fit — bigram counts, context counts,
    unigram counts, totals — and every interpolated probability, so
    the fit+score path is value-checked end to end.

    Scale: (prev, tok) pairs come from per-row ARRAY math (an indexed
    transform over the token array), not a window — zero shuffle until
    the count fits, which are partial-aggregated shuffles bounded by
    bigram-vocabulary size; the reference corpus explodes exactly
    TWICE (unigram fit + bigram fit — context counts derive from the
    checkpointed bigram table, ``ccnt(prev) = sum_tok bcnt(prev,
    tok)``, never a third corpus pass). Scoring is the token explode +
    three dimension-sized left joins (AQE broadcasts each count table)
    + one groupBy(doc). The totals row is the allowlisted 1-row scalar
    crossJoin, same as ``unigram_logprob``.
    """
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    lm = lm_df if lm_df is not None else df

    def pair_rows(frame: DataFrame, cols: list) -> DataFrame:
        """(…cols, __prev, __tok) — one row per token, __prev NULL at
        position 0, built narrow from the token array."""
        arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
        idx = F.when(
            F.size(arr) > 0, F.sequence(F.lit(1), F.size(arr))
        ).otherwise(F.array().cast("array<int>"))
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(arr, i).alias("__tok"),
                F.when(i > 1, F.element_at(arr, i - 1)).alias("__prev"),
            ),
        )
        return frame.select(
            *cols, F.explode_outer(pairs).alias("__p")
        ).select(*cols, F.col("__p.__tok"), F.col("__p.__prev"))

    fit = pair_rows(lm, [])
    uni = fit.filter(F.col("__tok").isNotNull()).groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__ucnt")
    )
    uni = uni.localCheckpoint(eager=True)  # feeds totals AND the score join
    totals = uni.agg(
        F.coalesce(F.sum("__ucnt"), F.lit(0)).alias("__total"),
        F.count(F.lit(1)).alias("__vocab"),
    )
    big = (
        fit.filter(F.col("__prev").isNotNull())
        .groupBy("__prev", "__tok")
        .agg(F.count(F.lit(1)).alias("__bcnt"))
    )
    big = big.localCheckpoint(eager=True)  # feeds ctx AND the score join
    # ccnt(prev) == sum_tok bcnt(prev, tok): derive the context counts
    # from the vocabulary-sized bigram table instead of a third full
    # corpus explode+shuffle
    ctx = (
        big.groupBy(F.col("__prev").alias("__ctx"))
        .agg(F.sum("__bcnt").alias("__ccnt"))
    )

    toks = pair_rows(df, [id_col])
    p_uni = (F.coalesce(F.col("__ucnt"), F.lit(0)) + F.lit(alpha)) / (
        F.col("__total") + F.lit(alpha) * (F.col("__vocab") + 1)
    )
    p_big = F.when(
        F.col("__prev").isNotNull() & F.col("__ccnt").isNotNull(),
        F.coalesce(F.col("__bcnt"), F.lit(0)) / F.col("__ccnt"),
    ).otherwise(F.lit(0.0))
    p = F.when(
        F.col("__prev").isNotNull(), F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni
    ).otherwise(p_uni)
    scored = (
        toks.join(uni, "__tok", "left")
        .join(big, ["__prev", "__tok"], "left")
        .join(ctx, toks["__prev"] == ctx["__ctx"], "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("__lp", F.when(F.col("__tok").isNotNull(), F.log(p)))
    )
    return scored.groupBy(id_col).agg(
        F.count("__lp").alias("n_tokens"),
        F.round(F.avg("__lp"), 5).alias(out),
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` word bigrams by pointwise mutual information —
    word2vec-style phrase detection (Mikolov et al. 2013): collocations
    whose joint probability beats the independence assumption become
    tokenizer vocab candidates / boilerplate-phrase signals.
    ``pmi = ln( (c12/T2) / ((c1/T1) * (c2/T1)) )`` with ``c12`` the
    bigram count over T2 total bigrams and ``c1``/``c2`` unigram counts
    over T1 total tokens; pairs under ``min_count`` are noise and
    dropped. Returns (w1, w2, pair_count, pmi) — ranking is on the
    ROUNDED pmi (5 decimals) with (w1, w2) tiebreak, the
    ``extract_keywords`` cross-engine rank discipline.

    Scale: two vocabulary-bounded partial-agg shuffles (bigram +
    unigram counts; the unfiltered bigram table is checkpointed once
    and feeds both the pair table and the T2 total), unigram tables
    broadcast back onto the bigram-vocabulary frame, totals as the
    allowlisted 1-row scalar crossJoin, top-k via
    TakeOrderedAndProject — corpus rows are touched exactly twice
    (both narrow explodes), never sorted.
    """
    toks = tokens(text_col)
    uni = (
        df.select(F.explode_outer(toks).alias("__w"))
        .filter(F.col("__w").isNotNull())
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # unfiltered bigram counts, materialized once (vocabulary-sized):
    # they feed the min_count-filtered pair table AND the T2 total —
    # without the checkpoint each consumer would re-run the corpus
    # explode
    big0 = (
        df.select(F.explode_outer(shingles(text_col, 2)).alias("__bg"))
        .filter(F.col("__bg").isNotNull() & F.col("__bg").contains(" "))
        .groupBy("__bg")
        .agg(F.count(F.lit(1)).alias("__c12"))
        .localCheckpoint(eager=True)
    )
    big = (
        big0.filter(F.col("__c12") >= min_count)
        .withColumn("w1", F.split("__bg", " ").getItem(0))
        .withColumn("w2", F.split("__bg", " ").getItem(1))
    )
    totals = uni.agg(
        F.sum("__c").alias("__t1"), F.count(F.lit(1)).alias("__v")
    ).crossJoin(big0.agg(F.sum("__c12").alias("__t2")))
    u1 = uni.select(F.col("__w").alias("w1"), F.col("__c").alias("__c1"))
    u2 = uni.select(F.col("__w").alias("w2"), F.col("__c").alias("__c2"))
    pmi = F.log(
        (F.col("__c12") / F.col("__t2"))
        / ((F.col("__c1") / F.col("__t1")) * (F.col("__c2") / F.col("__t1")))
    )
    scored = (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("__c12").alias("pair_count"),
            F.round(pmi, 5).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)


def vocab_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary overlap between groups: for every unordered
    group pair (a < b), the distinct-token-set sizes, intersection, and
    Jaccard similarity — the between-crawls / between-sources lexical
    drift signal next to ``corpus_report``'s per-source profile.
    Returns (src_a, src_b, vocab_a, vocab_b, n_shared, jaccard) with
    jaccard rounded to 6 decimals. Pairs sharing ZERO tokens are absent
    (join semantics — the scalable default); outer-complete against a
    cross join of the group list if the full matrix is needed.

    Scale: ONE distinct shuffle on (group, token) over the corpus,
    materialized once (it feeds the sizes AND the pair join); the pair
    join is a self-equi-join on the token over VOCABULARY-sized rows
    (its shuffle re-keys on token but moves vocab x groups rows, not
    corpus rows) and the output aggregate is group-pair-cardinality.
    The corpus itself is scanned once; no pairwise document work. A
    token shared by g groups expands to g^2 join rows — fine for
    source/crawl cardinalities (tens), not for thousands of groups.
    """
    gt = (
        df.select(
            F.col(group_col).alias("__grp"),
            F.explode_outer(tokens(text_col)).alias("__w"),
        )
        .filter(F.col("__w").isNotNull())
        .distinct()
    )
    gt = gt.localCheckpoint(eager=True)  # feeds sizes AND the pair join
    sizes = gt.groupBy("__grp").agg(F.count(F.lit(1)).alias("__vocab"))
    a = gt.select(F.col("__grp").alias("src_a"), "__w")
    b = gt.select(F.col("__grp").alias("src_b"), "__w")
    shared = (
        a.join(b, "__w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.withColumnRenamed("__grp", "src_a")
                        .withColumnRenamed("__vocab", "vocab_a")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("__grp", "src_b")
                        .withColumnRenamed("__vocab", "vocab_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def token_entropy(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Shannon entropy of the token distribution (nats) plus
    the vocab-normalized form — the information-density signal next to
    ``vocab_overlap``/``corpus_report``: repetitive or templated
    sources score low, lexically diverse ones approach ln(vocab).
    Returns (group_col, n_tokens, vocab, entropy, norm_entropy) with
    ``entropy = -sum(p ln p)`` over the group's token relative
    frequencies, both entropies rounded to 5 decimals (1-token-type
    groups normalize to 0 by convention).

    Scale: ONE (group, token) partial-agg count shuffle over the
    corpus, then a group-cardinality fold of vocabulary-sized rows —
    the same footprint as a per-source vocabulary count. Float note:
    the p·ln p sum is order-sensitive in the last ulps (Spark's
    partial-agg order varies), absorbed by the 5-decimal rounding —
    the avg_logprob discipline.
    """
    counts = (
        df.select(
            F.col(group_col),
            F.explode_outer(tokens(text_col)).alias("__w"),
        )
        .filter(F.col("__w").isNotNull())
        .groupBy(group_col, "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per = counts.groupBy(group_col).agg(
        F.sum("__c").alias("__t"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("__c") * F.log(F.col("__c"))).alias("__clnc"),
    )
    # -sum(c/T ln(c/T)) = ln T - (1/T) sum(c ln c)
    ent = F.log(F.col("__t")) - F.col("__clnc") / F.col("__t")
    return per.select(
        group_col,
        F.col("__t").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(ent, 5).alias("entropy"),
        F.round(
            F.when(F.col("vocab") > 1, ent / F.log(F.col("vocab"))).otherwise(
                F.lit(0.0)
            ),
            5,
        ).alias("norm_entropy"),
    )


def oov_rate(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 20,
) -> DataFrame:
    """Per-group out-of-vocabulary exposure: the fraction of token
    OCCURRENCES whose corpus-wide frequency is below ``min_count`` —
    the tokenizer-coverage / rare-token signal a vocab-size decision
    needs per source (a source full of sub-threshold tokens will
    degrade to <unk> under a frequency-pruned vocabulary, the
    ``build_vocab(min_count=...)`` rule). Returns
    (group_col, n_tokens, n_oov, oov_rate) with the rate rounded to 6
    decimals; tokenless groups are absent.

    Scale: one corpus-wide token-count fit (vocabulary-sized; AQE
    broadcasts it into the scoring join when it fits, shuffles when
    the vocabulary is too large to replicate), one narrow explode
    join, one group-cardinality aggregate — no per-document state.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = df.select(
        F.col(group_col),
        F.explode_outer(tokens(text_col)).alias("__w"),
    ).filter(F.col("__w").isNotNull())
    fit = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    return (
        # no broadcast hint: the vocabulary is unbounded at corpus
        # scale — AQE broadcasts when it fits, shuffles when it doesn't
        # (the unigram_logprob join discipline)
        toks.join(fit, "__w")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__c") < min_count, 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def zipf_fit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group Zipf rank-frequency fit: ordinary least squares of
    ``ln(freq)`` on ``ln(rank)`` over the group's token distribution —
    natural text runs a slope near -1 (Zipf's law); templated or
    synthetic sources flatten toward 0, making the slope a cheap
    distribution-shape signal next to ``token_entropy``. Ranks are
    deterministic (count desc, token asc tiebreak). Returns
    (group_col, vocab, slope, intercept) rounded to 5 decimals;
    single-token-type groups have no regression and return NULLs.

    Scale: one (group, token) partial-agg count shuffle, a per-group
    rank window over VOCABULARY-sized rows (partitioned by group —
    parallelism follows group cardinality, never a single global
    sort), and a group-cardinality fold of the five OLS sums. Float
    note: the sums are order-sensitive in the last ulps, absorbed by
    the 5-decimal rounding (the avg_logprob discipline).
    """
    from pyspark.sql import Window

    counts = (
        df.select(
            F.col(group_col),
            F.explode_outer(tokens(text_col)).alias("__w"),
        )
        .filter(F.col("__w").isNotNull())
        .groupBy(group_col, "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("__c"), "__w")
    ranked = counts.withColumn("__r", F.row_number().over(w))
    x, y = F.log("__r"), F.log("__c")
    sums = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    slope = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / (
        F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    with_slope = sums.withColumn(
        "__slope", F.when(F.col("__n") > 1, slope)
    )
    intercept = (F.col("__sy") - F.col("__slope") * F.col("__sx")) / F.col(
        "__n"
    )
    return with_slope.select(
        group_col,
        F.col("__n").cast("long").alias("vocab"),
        F.round("__slope", 5).alias("slope"),
        F.round(intercept, 5).alias("intercept"),
    )


# Gopher quality-rule constants (Rae et al. 2021, public method —
# "Scaling Language Models: ... Gopher", Table A1 repetition/quality
# heuristics). The stop-token rule uses the paper's 8-word list.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    annotate: bool = False,
) -> DataFrame:
    """The Gopher quality-rule battery as an auditable annotation: each
    published heuristic lands as its own 0/1 flag, ``kept`` is their
    conjunction — the annotate-then-filter quality-ladder shape.
    Rules (Rae et al. 2021): word count in [min_words, max_words];
    mean word length in [3, 10]; symbol-to-word ratio ('#' and
    ellipsis) <= 0.1; <= 90% of lines starting with a bullet; <= 30%
    of lines ending with an ellipsis; >= 80% of words containing an
    alphabetic character; >= 2 distinct stop words present
    (``stopwords`` defaults to the paper's 8-word list; pass a
    corpus-appropriate list for non-English or synthetic corpora).

    Every flag is computed in INTEGER arithmetic (``10 * n_symbols <=
    n_words`` instead of a float ratio compare) so the decision
    boundary is bit-exact across engines — the oracle replays each
    inequality literally, and no float column ever reaches the output.

    Scale: one narrow codegen pass over the text column — token/line
    array math per row, zero shuffle, zero Python, no join.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(txt)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    # '#' count + ellipsis count ('…' or a literal three-dot run,
    # counted non-overlapping via replace-and-measure)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_uni_ell = F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))
    n_dot_ell = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    n_symbols = (n_hash + n_uni_ell + n_dot_ell.cast("long")).cast("long")
    # trim spaces AND \t\r: crawled CRLF text leaves a trailing \r on
    # every line after the \n split, and plain trim() strips only
    # spaces — the ellipsis/bullet rules would silently never fire on
    # Windows-lineage text (the oracle replays the same 3-char trim)
    _trim = lambda x: F.btrim(x, F.lit(" \t\r"))  # noqa: E731
    lines = F.filter(F.split(txt, "\n"), lambda x: _trim(x) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: F.substring(_trim(x), 1, 1).isin("-", "*", "•"),
        )
    )
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda x: _trim(x).endswith("...") | _trim(x).endswith("…"),
        )
    )
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    if not stopwords:
        raise ValueError("stopwords must be non-empty")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in stopwords]),
        )
    )
    flags = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (n_words > 0)
        & (sum_len >= 3 * n_words)
        & (sum_len <= 10 * n_words),
        "r_symbol_ratio": 10 * n_symbols <= n_words,
        "r_bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "r_ellipsis_lines": 10 * n_ell_end <= 3 * n_lines,
        "r_alpha_words": 5 * n_alpha >= 4 * n_words,
        "r_stopwords": n_stop >= 2,
    }
    if annotate:
        # streaming-composable form: keep EVERY input column and add
        # the flags (gopher_rules is a stateless narrow projection, so
        # it applies to readStream frames directly — annotate=True is
        # what lets the ingest ladder filter on `kept` downstream
        # without a stream-stream join back to the source columns).
        # ONE withColumns projection, not a withColumn loop — each
        # withColumn adds its own analyzer Project node.
        out = df.withColumns(
            {"n_words": n_words,
             **{k: v.cast("int") for k, v in flags.items()}}
        )
    else:
        out = df.select(
            F.col(id_col),
            n_words.alias("n_words"),
            *[v.cast("int").alias(k) for k, v in flags.items()],
        )
    kept = F.lit(True)
    for k in flags:
        kept = kept & (F.col(k) == 1)
    return out.withColumn("kept", kept.cast("int"))


def quality_linear(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    weights_milli: dict[int, int] | None = None,
    bias_milli: int = 0,
    out: str = "quality_prob",
    annotate: bool = False,
) -> DataFrame:
    """fastText-style linear quality classifier over hashed
    bag-of-words features (the Joulin et al. 2016 architecture the
    GPT-3/LLaMA-class quality filters use, public method): each token
    hashes to one of ``n_buckets`` feature buckets, the model is one
    weight per bucket + a bias, and the document score is the mean
    token weight pushed through a sigmoid. Returns (id_col, n_tokens,
    out) with ``out`` rounded to 5 decimals; tokenless docs get NULL.

    Weights are INTEGER MILLI-UNITS (``weights_milli[bucket]`` in
    [-1000, 1000]); the per-document accumulation is an exact BIGINT
    sum — float enters only at the single final division + sigmoid, so
    the score is bit-exact across engines and partitionings (float
    sums would be addition-order-dependent — NOTES.md). Default
    weights derive each bucket's milli-weight from the bucket id via a
    Knuth multiplicative hash (``(b * 2654435761) % 2001 - 1000``) —
    a deterministic stand-in pinning the full scoring path; production
    swaps in trained weights with the same dict shape.

    Scale: the model rides the plan as a CASE/element_at literal over
    ``n_buckets`` entries (a few KB — fastText's own hashing-trick
    size story); scoring is per-row array math: zero shuffle, zero
    Python, no join, no explode.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if weights_milli is None:
        # default weights stay ARITHMETIC (no array literal at all):
        # w(b) = (b * 2654435761) % 2001 - 1000, computed inline per
        # token — the plan carries a formula, not a model
        def milli(t):
            b = token_hash60(t) % n_buckets
            return (b * 2654435761) % 2001 - 1000
    else:
        bad = {b: w for b, w in weights_milli.items()
               if not -1000 <= w <= 1000 or not 0 <= b < n_buckets}
        if bad:
            raise ValueError(
                f"weights must map buckets [0, {n_buckets}) to milli-units "
                f"in [-1000, 1000]; offending entries: {bad!r}"
            )
        # trained model as ONE array literal indexed by bucket —
        # ConstantFolding collapses it to a single Literal, so
        # element_at probes materialized ArrayData, it does not
        # re-build the array per token; absent buckets weigh 0
        warr = F.array(
            *[F.lit(int(weights_milli.get(b, 0))) for b in range(n_buckets)]
        )

        def milli(t):
            return F.element_at(
                warr, (token_hash60(t) % n_buckets + 1).cast("int")
            ).cast("long")

    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    milli_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + milli(t),
    )
    n = F.size(toks)
    score = (milli_sum + F.lit(int(bias_milli))) / (1000.0 * n)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 5)
    if annotate:
        # keep every input column (streaming-composable; see
        # gopher_rules) — only the score lands, no n_tokens column
        # to collide with other annotators' token counts
        return df.withColumn(out, F.when(n > 0, prob))
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.when(n > 0, prob).alias(out),
    )


def source_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    dp: int = 6,
    materialize: bool = False,
) -> DataFrame:
    """Per-group KL divergence KL(P_group || P_corpus) between each
    group's unigram token distribution and the whole corpus's — the
    domain-shift diagnostic of data-mixing work (how far each source's
    language sits from the mixture; the pointwise quantity DSIR's
    importance weights integrate). Returns (group_col, n_tokens,
    kl_divergence) with the divergence in nats rounded to ``dp``.
    Groups are the P side, the corpus the Q side, so support(P) ⊆
    support(Q) by construction and no smoothing is needed: every
    group token has corpus mass.

    Uses the identity KL = (S_in - S_cross) / n_g + ln T - ln n_g
    where S_in = Σ_t c_gt·ln c_gt and S_cross = Σ_t c_gt·ln c_t — two
    float folds over vocabulary-sized count rows plus exact BIGINT
    totals (the ``token_entropy`` discipline: keep the float work to
    the minimal fold, everything structural stays integer).

    Scale: ONE (group, token) partial-agg shuffle (vocabulary-bounded);
    the corpus-side counts derive from the SAME table by a second
    token-level aggregate (no second corpus pass) joined back
    broadcast-style (AQE: token vocabulary vs group-token table).

    ``materialize=True`` localCheckpoints the (group, token) count
    table so it feeds both the corpus side and the group side from one
    executed pass — same knob and rationale as ``gram_novelty`` /
    ``containment_pairs`` / ``semdedup`` (ADVICE r9: the lazy default
    keeps the operator side-effect-free at plan-construction time and
    usable on frames that cannot be checkpointed; query entry points
    pass True).
    """
    gt = (
        df.select(
            F.col(group_col),
            F.explode_outer(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("__t"),
        )
        .filter(F.col("__t").isNotNull())
        .groupBy(group_col, "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__cgt"))
    )
    if materialize:
        gt = gt.localCheckpoint(eager=True)  # feeds BOTH sides below — one pass
    return kl_from_counts(gt, group_col=group_col, dp=dp)


def kl_from_counts(
    gt: DataFrame,
    group_col: str = "source",
    token_col: str = "__t",
    count_col: str = "__cgt",
    dp: int = 6,
) -> DataFrame:
    """The KL fold of ``source_kl``, exposed over an already-built
    (group, token, count) table — ``source_kl`` minus the tokenize
    pass. The streaming tie-in: ``streaming.runner.
    read_source_token_counts`` folds an incrementally maintained count
    store into exactly this shape, so a crawl's per-source divergence
    advances batch-by-batch with no pass over history (and, because
    counts fold exactly, it EQUALS the batch recompute — parity test).
    Same output contract as ``source_kl``: (group_col, n_tokens,
    kl_divergence).

    Scale: every aggregate here is over the vocabulary-sized count
    table, not the corpus — two partial-agg shuffles + the 1-row
    totals crossJoin (BNLJ-allowlisted decorrelated-scalar shape).
    """
    gt = gt.select(
        F.col(group_col),
        F.col(token_col).alias("__t"),
        F.col(count_col).cast("long").alias("__cgt"),
    )
    corpus_t = gt.groupBy("__t").agg(F.sum("__cgt").alias("__ct"))
    total = gt.agg(F.sum("__cgt").alias("__T"))
    joined = gt.join(corpus_t, "__t")
    per_group = joined.groupBy(group_col).agg(
        F.sum("__cgt").cast("long").alias("n_tokens"),
        F.sum(F.col("__cgt") * F.log(F.col("__cgt").cast("double"))).alias("__s_in"),
        F.sum(F.col("__cgt") * F.log(F.col("__ct").cast("double"))).alias("__s_cross"),
    )
    return (
        per_group.crossJoin(F.broadcast(total))  # 1-row totals (allowlisted)
        .select(
            F.col(group_col),
            F.col("n_tokens"),
            F.round(
                (F.col("__s_in") - F.col("__s_cross")) / F.col("n_tokens")
                + F.log(F.col("__T").cast("double"))
                - F.log(F.col("n_tokens").cast("double")),
                dp,
            ).alias("kl_divergence"),
        )
    )
