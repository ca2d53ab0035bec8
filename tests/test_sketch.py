"""Sketch-operator tests: count-min, HyperLogLog, Bloom, bigram LM.

The oracle queries (queries_batch15 via test_corpus_oracles) pin the
sketch CONTENTS against SQL replays; these tests pin the mathematical
GUARANTEES (CM never underestimates, Bloom never false-negatives, HLL
is order/partitioning-invariant) and the input validation."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import sketch, text
from tests import jvm_reference

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------------------
# count-min
# ---------------------------------------------------------------------------

def test_countmin_never_underestimates(spark, docs):
    """The CM guarantee, over the ENTIRE vocabulary (the oracle query
    only reads the top 20): min-of-counters >= true count for every
    token, with equality exactly when none of a token's d cells has a
    collision."""
    sk = sketch.countmin_sketch(docs, depth=3, width=32)
    true = (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    est = sketch.countmin_estimate(sk, true.select("token"), depth=3, width=32)
    rows = true.join(est, "token").collect()
    assert rows
    assert all(r.cm_count >= r.true_count for r in rows)


def test_countmin_absent_token_estimates_collision_mass_only(spark, docs):
    sk = sketch.countmin_sketch(docs, depth=3, width=64)
    probe = spark.createDataFrame(
        [("definitely-not-in-the-corpus-xyzzy",)], ["token"]
    )
    [row] = sketch.countmin_estimate(sk, probe, depth=3, width=64).collect()
    # absent token: estimate is pure collision mass, possibly 0
    assert row.cm_count >= 0


def test_countmin_total_mass_per_row(spark, docs):
    """Each counter row holds the complete token stream: per-row cell
    sums all equal the corpus token count."""
    sk = sketch.countmin_sketch(docs, depth=3, width=64)
    total = docs.select(F.explode(text.tokens("text"))).count()
    per_row = {r["row"]: r["s"] for r in
               sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()}
    assert per_row == {0: total, 1: total, 2: total}


def test_countmin_validates_params(docs):
    with pytest.raises(ValueError, match="depth/width"):
        sketch.countmin_sketch(docs, depth=0, width=64)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_reasonable_and_partitioning_invariant(spark, docs):
    """Estimate lands within the ±3σ band (σ ≈ 1.04/√m) of the true
    cardinality, and — the float-order-proof design point — the result
    is IDENTICAL under different partitionings, because the harmonic
    numerator accumulates as an exact BIGINT instead of float sums."""
    est1 = sketch.hll_distinct(docs, "lang", "text", m=64, ngram=2)
    est8 = sketch.hll_distinct(
        docs.repartition(8), "lang", "text", m=64, ngram=2
    )
    r1 = {r.lang: (r.hll_estimate, r.n_empty_buckets) for r in est1.collect()}
    r8 = {r.lang: (r.hll_estimate, r.n_empty_buckets) for r in est8.collect()}
    assert r1 == r8
    true = {
        r.lang: r.d
        for r in docs.select(
            "lang", F.explode(text.shingles("text", 2)).alias("g")
        )
        .groupBy("lang")
        .agg(F.countDistinct("g").alias("d"))
        .collect()
    }
    for lang, (est, _) in r1.items():
        rel = abs(est - true[lang]) / true[lang]
        assert rel < 3 * 1.04 / 8, f"{lang}: est {est} vs true {true[lang]}"


def test_hll_exact_small_set_via_linear_counting(spark):
    """A 3-distinct-token corpus whose tokens occupy three DISTINCT
    buckets (md5 % 64 of beta/delta/epsilon = 43/17/0 — alpha/gamma
    collide at 59, a real miniature of HLL's bucket-collision error,
    so they're avoided here): linear counting with 61/64 empty buckets
    estimates near-exactly."""
    df = spark.createDataFrame(
        [("g", "beta delta epsilon"), ("g", "delta epsilon beta")],
        ["source", "text"],
    )
    [row] = sketch.hll_distinct(df, "source", "text", m=64).collect()
    assert row.n_empty_buckets == 61
    assert abs(row.hll_estimate - 3.0) < 0.15


def test_hll_validates_params(docs):
    with pytest.raises(ValueError, match="power of two"):
        sketch.hll_distinct(docs, m=48)
    with pytest.raises(ValueError, match="ngram"):
        sketch.hll_distinct(docs, ngram=0)


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

def test_bloom_positions_match_python_md5(spark):
    """The md5-slice positions are exactly hashlib's — the same bytes
    the oracle's SQL md5 produces."""
    df = spark.createDataFrame([("hello world",)], ["g"])
    [row] = df.select(
        sketch.bloom_positions(F.col("g"), k=2, hex_width=4).alias("p")
    ).collect()
    hx = hashlib.md5(b"hello world").hexdigest()
    assert row.p == [int(hx[0:4], 16), int(hx[4:8], 16)]


def test_bloom_no_false_negatives(spark, docs):
    """Every document sharing an 8-gram with the benchmark (the exact
    join's answer) is Bloom-flagged — the one-sided error guarantee."""
    bench = docs.filter(F.col("source") == "src0")
    corp = docs.filter(F.col("source") != "src0")
    bits = sketch.build_bloom_bitset(bench, n=8, k=2, hex_width=4)
    flagged = sketch.bloom_flag_contaminated(
        corp, bits, n=8, k=2, hex_width=4
    )

    def grams(df):
        return df.select(
            "doc_id",
            F.explode(F.array_distinct(text.shingles("text", 8))).alias("g"),
        )

    exact_ids = {
        r.doc_id
        for r in grams(corp)
        .join(grams(bench).select("g").distinct(), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    bloom_ids = {
        r.doc_id for r in flagged.filter("bloom_contaminated = 1").collect()
    }
    assert exact_ids <= bloom_ids
    # every input row comes back, flagged or not
    assert flagged.count() == corp.count()


def test_bloom_flag_kernel_matches_jvm(spark, docs):
    """Round-16 optimization guard: the fused gram+hash+bit-test kernel
    must emit row-identical (n_grams, n_bloom_hits, bloom_contaminated)
    to the expression-side gram/hash reference (tests/jvm_reference.py)
    — in BOTH position layouts (compact 60-bit prefix at
    hex_width 4, and full-md5 slices at k*hex_width > 15), including
    NULL/empty text (the single empty gram), sub-n-token remainder
    grams, and repeated-gram dedup."""
    bench = docs.filter(F.col("source") == "src0")
    extra = spark.createDataFrame(
        [(9001, None, "x"), (9002, "", "x"), (9003, "a b", "x"),
         (9004, "w " * 30, "x")],
        ["doc_id", "text", "source"],
    )
    corp = docs.filter(F.col("source") != "src0").select(
        "doc_id", "text", "source"
    ).unionByName(extra.select("doc_id", F.col("text").cast("string"), "source"))
    for kk, hw in [(2, 4), (2, 8)]:   # compact and non-compact layouts
        bits = sketch.build_bloom_bitset(bench, n=8, k=kk, hex_width=hw)
        jvm = jvm_reference.bloom_flag_contaminated(
            corp, bits, n=8, k=kk, hex_width=hw)
        ker = {r.doc_id: (r.n_grams, r.n_bloom_hits, r.bloom_contaminated)
               for r in sketch.bloom_flag_contaminated(
                   corp, bits, n=8, k=kk, hex_width=hw).collect()}
        assert jvm == ker, (kk, hw)
        assert ker[9001][0] == 1 and ker[9002][0] == 1  # the empty gram
    with pytest.raises(TypeError):
        sketch.bloom_flag_contaminated(corp, bits, impl="kernel", hex_width=8)


def test_bloom_bitset_and_param_validation(spark, docs):
    with pytest.raises(ValueError, match="k must be"):
        sketch.bloom_positions(F.lit("x"), k=9, hex_width=4)
    with pytest.raises(ValueError, match="hex_width"):
        sketch.bloom_positions(F.lit("x"), k=1, hex_width=2)
    with pytest.raises(ValueError, match="bitset must be"):
        sketch.bloom_flag_contaminated(
            docs, np.zeros(10, dtype=np.uint8), hex_width=4
        )


def test_bloom_default_width_is_collision_free_here(spark, docs):
    """At the production default (m = 2^20) this corpus produces zero
    false positives: bloom set == exact set."""
    bench = docs.filter(F.col("source") == "src0")
    corp = docs.filter(F.col("source") != "src0")
    bits = sketch.build_bloom_bitset(bench, n=8, k=2)
    flagged = sketch.bloom_flag_contaminated(corp, bits, n=8, k=2)
    fp = flagged.filter("bloom_contaminated = 1").join(
        corp.select(
            "doc_id",
            F.explode(F.array_distinct(text.shingles("text", 8))).alias("g"),
        )
        .join(
            bench.select(
                F.explode(
                    F.array_distinct(text.shingles("text", 8))
                ).alias("g")
            ).distinct(),
            "g",
            "left_semi",
        )
        .select("doc_id")
        .distinct(),
        "doc_id",
        "left_anti",
    )
    assert fp.count() == 0


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------

def test_bigram_lam_zero_equals_unigram(docs):
    """lam=0 collapses the interpolation to the pure add-alpha unigram
    model — scores must match unigram_logprob EXACTLY (same rounding,
    same null semantics)."""
    bg = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in text.bigram_logprob(docs, lam=0.0, alpha=0.5).collect()
    }
    un = {
        r.doc_id: (r.n_tokens, r.avg_logprob)
        for r in text.unigram_logprob(docs, alpha=0.5).collect()
    }
    assert bg == un


def test_bigram_prefers_seen_transitions(spark):
    """'a b' repeated: the a→b transition is certain, so the bigram
    model scores the corpus strictly higher than the unigram model."""
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a b")], ["doc_id", "text"]
    )
    bg = {r.doc_id: r.avg_logprob for r in text.bigram_logprob(df).collect()}
    un = {r.doc_id: r.avg_logprob for r in text.unigram_logprob(df).collect()}
    assert all(bg[i] > un[i] for i in (1, 2))


def test_bigram_keeps_tokenless_rows(spark):
    df = spark.createDataFrame(
        [(1, "one two three"), (2, ""), (3, None)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in text.bigram_logprob(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_tokens == 0 and rows[2].avg_logprob is None
    assert rows[3].n_tokens == 0 and rows[3].avg_logprob is None


def test_bigram_validates_params(docs):
    with pytest.raises(ValueError, match="lam"):
        text.bigram_logprob(docs, lam=1.5)
    with pytest.raises(ValueError, match="alpha"):
        text.bigram_logprob(docs, alpha=0.0)


# ---------------------------------------------------------------------------
# streaming sketch maintenance
# ---------------------------------------------------------------------------

def test_streaming_sketch_state_folds_to_batch_sketch(spark, tmp_path):
    """The mergeability proof, end to end: drain a 3-file stream
    through streaming_sketch_state, fold the batch-id-partitioned
    partials, and get EXACTLY the sketch a single batch build over the
    full corpus produces — CM cells (sum-merged) and HLL estimates
    (max-merged registers) both. Then a checkpoint-loss replay
    rewrites partitions instead of double-counting."""
    import shutil

    from datapipelineetl_spark.streaming import runner

    rows = [
        ("s1", "a a b c"),
        ("s1", "b c d"),
        ("s2", "a d d e f"),
        ("s2", "e f g"),
        ("s1", "g h a a"),
        ("s2", "h b"),
    ]
    docs = spark.createDataFrame(rows, ["source", "text"])
    src = str(tmp_path / "src")
    store = str(tmp_path / "sketch_store")
    ck = str(tmp_path / "ckpt")
    docs.repartition(3).write.parquet(src)

    def drain():
        stream = (
            spark.readStream.schema("source string, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        runner.streaming_sketch_state(
            stream, store=store, checkpoint=ck, depth=3, width=32, m=64
        )

    drain()
    # multiple batches actually accrued (1-file triggers)
    parts = {
        r["__batch_id"]
        for r in spark.read.parquet(f"{store}/cm")
        .select("__batch_id")
        .distinct()
        .collect()
    }
    assert len(parts) > 1

    def cm_key(df):
        return {(r["row"], r["bucket"]): r["cnt"] for r in df.collect()}

    folded_cm = cm_key(runner.read_countmin_state(spark, store))
    batch_cm = cm_key(sketch.countmin_sketch(docs, depth=3, width=32))
    assert folded_cm == batch_cm

    def hll_key(df):
        return {
            r["source"]: (r["n_empty_buckets"], r["hll_estimate"])
            for r in df.collect()
        }

    folded_hll = hll_key(runner.read_hll_state(spark, store, "source", m=64))
    batch_hll = hll_key(sketch.hll_distinct(docs, "source", "text", m=64))
    assert folded_hll == batch_hll

    # estimates survive a full checkpoint-loss replay unchanged
    shutil.rmtree(ck)
    drain()
    assert cm_key(runner.read_countmin_state(spark, store)) == batch_cm
    assert hll_key(runner.read_hll_state(spark, store, "source", m=64)) == batch_hll


def test_streaming_bloom_decontaminate_matches_exact_join(spark, tmp_path):
    """At the collision-free production width, the streaming Bloom
    pass keeps EXACTLY the documents the exact-join streaming
    decontamination keeps, the dropped audit carries the hit counts,
    and a checkpoint-loss replay rewrites instead of duplicating."""
    import shutil

    from datapipelineetl_spark.operators import corpus as corpus_ops
    from datapipelineetl_spark.streaming import runner

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    corp = docs.filter(F.col("source") != "src0").select("doc_id", "text")

    src = str(tmp_path / "src")
    corp.repartition(3).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # exact-join reference
    out_exact = str(tmp_path / "out_exact")
    runner.streaming_decontaminate(
        stream(),
        corpus_ops.ngram_hashes(bench, n=8),
        output_dir=out_exact,
        checkpoint=str(tmp_path / "ck_exact"),
        n=8,
    )
    exact_kept = {r.doc_id for r in spark.read.parquet(out_exact).collect()}

    # bloom path at the production width (no false positives here)
    bits = sketch.build_bloom_bitset(bench, n=8, k=2)
    out_bloom = str(tmp_path / "out_bloom")
    dropped = str(tmp_path / "dropped")
    ck = str(tmp_path / "ck_bloom")
    runner.streaming_bloom_decontaminate(
        stream(), bits, output_dir=out_bloom, checkpoint=ck, n=8, k=2,
        dropped_dir=dropped,
    )
    bloom_kept = {r.doc_id for r in spark.read.parquet(out_bloom).collect()}
    assert bloom_kept == exact_kept

    audit = spark.read.parquet(dropped)
    dropped_ids = {r.doc_id for r in audit.collect()}
    assert dropped_ids == {r.doc_id for r in corp.collect()} - exact_kept
    assert audit.filter("n_bloom_hits < 1").count() == 0

    # checkpoint loss → replay rewrites batch partitions, no dupes
    shutil.rmtree(ck)
    runner.streaming_bloom_decontaminate(
        stream(), bits, output_dir=out_bloom, checkpoint=ck, n=8, k=2,
        dropped_dir=dropped,
    )
    again = [r.doc_id for r in spark.read.parquet(out_bloom).collect()]
    assert sorted(again) == sorted(bloom_kept)


# ---------------------------------------------------------------------------
# PMI bigrams / vocabulary overlap
# ---------------------------------------------------------------------------

def test_pmi_bigrams_finds_planted_collocation(spark):
    """A corpus where 'new york' always co-occurs but its words are
    also common alone: the planted phrase must outrank independent
    pairs, and every returned pair respects min_count."""
    rows = [(i, "new york " + ("aa bb " * 5)) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = text.pmi_bigrams(df, min_count=5, k=5).collect()
    assert got, "expected pairs above min_count"
    assert (got[0].w1, got[0].w2) == ("new", "york")
    assert all(r.pair_count >= 5 for r in got)


def test_pmi_certain_pair_formula(spark):
    """Two tokens that ONLY occur as a pair: pmi = ln(T1^2 / (c1*c2*T2))
    with c12 = c1 = c2 = T2 — hand-checked against the closed form."""
    import math

    df = spark.createDataFrame([(i, "xq yq") for i in range(6)],
                               ["doc_id", "text"])
    [row] = text.pmi_bigrams(df, min_count=5, k=1).collect()
    # T1 = 12 tokens, c1 = c2 = 6, T2 = 6 bigrams, c12 = 6
    expect = math.log((6 / 6) / ((6 / 12) * (6 / 12)))
    assert row.pair_count == 6
    assert abs(row.pmi - round(expect, 5)) < 1e-9


def test_vocab_overlap_pairs_and_jaccard(spark):
    """Three tiny sources with hand-computable vocabularies: all three
    unordered pairs come back with exact set sizes and Jaccard."""
    df = spark.createDataFrame(
        [
            ("s1", "a b c"),
            ("s1", "c d"),          # s1 vocab {a,b,c,d}
            ("s2", "c d e"),        # s2 vocab {c,d,e}
            ("s3", "x y"),          # s3 vocab {x,y} — disjoint
        ],
        ["source", "text"],
    )
    got = {
        (r.src_a, r.src_b): (r.vocab_a, r.vocab_b, r.n_shared, r.jaccard)
        for r in text.vocab_overlap(df, "source", "text").collect()
    }
    assert got[("s1", "s2")] == (4, 3, 2, round(2 / 5, 6))
    # zero-overlap pairs are ABSENT by join semantics (documented) —
    # s3 shares nothing with either source
    assert len(got) == 1


# ---------------------------------------------------------------------------
# token entropy / OOV rate
# ---------------------------------------------------------------------------

def test_token_entropy_hand_computed(spark):
    """Uniform 4-token source → entropy ln(4), norm 1.0; single-token
    source → 0 with the vocab=1 normalization convention."""
    import math

    df = spark.createDataFrame(
        [("u", "a b c d"), ("u", "b a d c"), ("r", "z z z z")],
        ["source", "text"],
    )
    got = {r.source: r for r in
           text.token_entropy(df, "source", "text").collect()}
    assert got["u"].n_tokens == 8 and got["u"].vocab == 4
    assert abs(got["u"].entropy - round(math.log(4), 5)) < 1e-9
    assert got["u"].norm_entropy == 1.0
    assert got["r"].entropy == 0.0 and got["r"].norm_entropy == 0.0


def test_oov_rate_threshold_boundary(spark):
    """min_count is exclusive at the boundary: a token seen exactly
    min_count times is IN vocabulary."""
    rows = [("s", "common rare")] * 3  # common appears 3x, rare 3x
    rows += [("s", "common")] * 2      # common 5x total
    df = spark.createDataFrame(rows, ["source", "text"])
    [r] = text.oov_rate(df, "source", "text", min_count=5).collect()
    # common(5) >= 5 → in-vocab; rare(3) < 5 → 3 OOV occurrences of 8
    assert (r.n_tokens, r.n_oov) == (8, 3)
    assert r.oov_rate == round(3 / 8, 6)
    [r4] = text.oov_rate(df, "source", "text", min_count=3).collect()
    assert r4.n_oov == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_count"):
        text.oov_rate(df, min_count=0)


def test_bloom_flag_handles_null_and_empty_text(spark):
    """NULL/empty text must flow through the Arrow bit test as rows
    (the "" gram), never crash it — every input row returns."""
    bench = spark.createDataFrame([(0, "a b c d e f g h")], ["doc_id", "text"])
    corp = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d e f g h x")],
        ["doc_id", "text"],
    )
    bits = sketch.build_bloom_bitset(bench, n=8, k=2)
    got = {r.doc_id: r for r in
           sketch.bloom_flag_contaminated(corp, bits, n=8, k=2).collect()}
    assert set(got) == {1, 2, 3}
    assert got[3].bloom_contaminated == 1  # shares the full 8-gram
    # null/empty text reduce to the "" gram, not a crash
    assert got[1].n_grams == 1 and got[2].n_grams == 1


def test_flag_blocklisted_token_level_not_substring(spark):
    """'classic' must not trip a block on 'ass'; actual blocked tokens
    count per occurrence; null text survives as kept."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    df = spark.createDataFrame(
        [(1, "a classic example"), (2, "ass ass b"), (3, None), (4, "ASS")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
           corpus_ops.flag_blocklisted(df, ["ass"]).collect()}
    assert got == {1: (0, 1), 2: (2, 0), 3: (0, 1), 4: (1, 0)}
    with pytest.raises(ValueError, match="non-empty"):
        corpus_ops.flag_blocklisted(df, [])


def test_flag_blocklisted_rejects_non_token_terms(spark):
    """Whole-token matching can never match a phrase or padded term —
    such blocklist entries fail loudly instead of silently
    under-blocking (review finding)."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    for bad in (["bad phrase"], [" ass "], ["ok", "\tx"], [""]):
        with pytest.raises(ValueError, match="single whitespace-free|non-empty"):
            corpus_ops.flag_blocklisted(df, bad)


def test_flag_blocklisted_join_parity(spark):
    """The broadcast-join variant (large-list scale path, VERDICT r8
    item 6) must return exactly the literal-HOF form's answers — same
    counts, same keeps — on the edge battery (substrings, repeated
    blocked tokens, NULL text, case), from both a list and a term
    DataFrame; and it shares the literal form's loud term validation."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    df = spark.createDataFrame(
        [(1, "a classic example"), (2, "ass ass b"), (3, None), (4, "ASS"),
         (5, ""), (6, "damn Ass dAmN x")],
        ["doc_id", "text"],
    )
    terms = ["ass", "damn"]
    want = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
            corpus_ops.flag_blocklisted(df, terms).collect()}
    got_list = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
                corpus_ops.flag_blocklisted_join(df, terms).collect()}
    term_df = spark.createDataFrame([("ASS",), ("damn",)], ["term"])
    got_df = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
              corpus_ops.flag_blocklisted_join(df, term_df).collect()}
    assert got_list == want
    assert got_df == want
    assert want[6] == (3, 0)  # case-folded, per-occurrence
    for bad in (["bad phrase"], [" ass "], [""]):
        with pytest.raises(ValueError, match="single whitespace-free|non-empty"):
            corpus_ops.flag_blocklisted_join(df, bad)


def test_flag_blocklisted_join_dataframe_validation(spark):
    """ADVICE r9 (medium): the DataFrame blocklist form must share the
    list form's loud-failure contract — multi-word, padded, empty, or
    NULL terms raise instead of silently never matching whole tokens,
    and a multi-column frame is rejected instead of guessing
    columns[0]."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    for bad_terms in (
        [("bad phrase",)],
        [(" ass ",)],
        [("",)],
        [(None,)],
        [("ok",), ("two words",)],
    ):
        tdf = spark.createDataFrame(bad_terms, "`term` string")
        with pytest.raises(ValueError, match="whitespace-free"):
            corpus_ops.flag_blocklisted_join(df, tdf)
    two_col = spark.createDataFrame([("ass", 1)], ["term", "weight"])
    with pytest.raises(ValueError, match="exactly one column"):
        corpus_ops.flag_blocklisted_join(df, two_col)


def test_zipf_fit_known_distribution(spark):
    """An exact power-law corpus (freq = 12/rank over 4 tokens) must
    recover slope -1 and intercept ln(12) almost exactly; a 1-type
    source returns NULLs."""
    import math

    words = {"w1": 12, "w2": 6, "w3": 4, "w4": 3}
    body = " ".join(" ".join([w] * c) for w, c in words.items())
    df = spark.createDataFrame(
        [("z", body), ("single", "only only only")], ["source", "text"]
    )
    got = {r.source: r for r in text.zipf_fit(df, "source", "text").collect()}
    assert got["z"].vocab == 4
    assert abs(got["z"].slope - (-1.0)) < 1e-6
    assert abs(got["z"].intercept - round(math.log(12), 5)) < 1e-5
    assert got["single"].vocab == 1
    assert got["single"].slope is None and got["single"].intercept is None
