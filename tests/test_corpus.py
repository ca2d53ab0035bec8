"""Corpus-preparation operator tests (operators/corpus.py): deterministic
sampling, stratified sampling, weighted mixing, sequence packing (both
forms), PII redaction, and the one-call prepare_corpus composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import corpus
from tests import jvm_reference


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"document number {i} " + ("quality text with many varied words here " * 5))
        for i in range(200)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_sample_fraction_deterministic_and_proportional(docs):
    a = corpus.sample_fraction(docs, 0.3, "doc_id")
    b = corpus.sample_fraction(docs, 0.3, "doc_id")
    ids_a = {r.doc_id for r in a.collect()}
    ids_b = {r.doc_id for r in b.collect()}
    assert ids_a == ids_b  # same keys → same decisions, run to run
    assert 0.15 * 200 <= len(ids_a) <= 0.45 * 200  # ~proportional
    # a larger fraction with the same salt is a SUPERSET (nested samples)
    ids_half = {r.doc_id for r in corpus.sample_fraction(docs, 0.6, "doc_id").collect()}
    assert ids_a <= ids_half


def test_sample_fraction_salt_gives_independent_split(docs):
    train = corpus.sample_fraction(docs, 0.8, "doc_id", salt="train")
    val = corpus.sample_fraction(docs, 0.8, "doc_id", salt="val")
    ids_t = {r.doc_id for r in train.collect()}
    ids_v = {r.doc_id for r in val.collect()}
    assert ids_t != ids_v  # different salts → different coins


def test_sample_fraction_bounds(docs):
    assert corpus.sample_fraction(docs, 0.0, "doc_id").count() == 0
    assert corpus.sample_fraction(docs, 1.0, "doc_id").count() == 200
    with pytest.raises(ValueError, match="fraction"):
        corpus.sample_fraction(docs, 1.5, "doc_id")


def test_sample_stratified_per_stratum_rates(spark):
    rows = [(i, "high" if i % 2 == 0 else "low") for i in range(400)]
    df = spark.createDataFrame(rows, ["k", "tier"])
    out = corpus.sample_stratified(
        df, "tier", {"high": 1.0, "low": 0.2}, key_col="k"
    )
    got = out.groupBy("tier").count().collect()
    by = {r.tier: r["count"] for r in got}
    assert by["high"] == 200  # fraction 1.0 keeps everything
    assert 10 <= by.get("low", 0) <= 80  # ~20% of 200
    # unknown strata fall back to default_fraction (0.0 → dropped)
    df2 = spark.createDataFrame([(1, "other")], ["k", "tier"])
    assert corpus.sample_stratified(df2, "tier", {"high": 1.0}, key_col="k").count() == 0


def test_mix_corpora_proportions_and_tags(spark):
    web = spark.createDataFrame([(i, "w") for i in range(1000)], ["k", "payload"])
    code = spark.createDataFrame([(10_000 + i, "c") for i in range(200)], ["k", "payload"])
    out = corpus.mix_corpora(
        {"web": web, "code": code}, {"web": 0.5, "code": 0.5}, key_col="k"
    )
    by = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    # code (200 rows) limits: target ≈ 200 web + 200 code
    assert by["code"] == 200  # limiting source kept whole
    assert 140 <= by["web"] <= 260  # down-sampled to ~200, never up-sampled
    with pytest.raises(ValueError, match="weights"):
        corpus.mix_corpora({"web": web}, {"web": 0.5, "code": 0.5}, key_col="k")


def test_pack_chunks_offsets_and_sharding(spark):
    df = spark.createDataFrame([(i, 100) for i in range(300)], ["doc_id", "n_tokens"])
    out = corpus.pack_chunks(df, "n_tokens", budget=1000, order_col="doc_id", n_shards=4)
    rows = out.collect()
    assert len(rows) == 300  # packing annotates, never drops
    sizes = (
        out.groupBy("pack_id").agg(F.sum("n_tokens").alias("s")).collect()
    )
    # contiguous chunking: all packs ≈ budget except each shard's tail
    full = [r.s for r in sizes if r.s == 1000]
    assert len(full) >= len(sizes) - 4  # ≤1 partial pack per shard
    # deterministic
    again = {(r.doc_id, r.pack_id) for r in corpus.pack_chunks(
        df, "n_tokens", budget=1000, order_col="doc_id", n_shards=4
    ).collect()}
    assert {(r.doc_id, r.pack_id) for r in rows} == again


def test_pack_greedy_never_exceeds_budget(spark):
    # ragged sizes incl. one oversized doc
    rows = [(i, (i * 37) % 400 + 50) for i in range(200)] + [(999, 5000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = corpus.pack_greedy(df, "doc_id", "n_tokens", budget=1000, n_shards=8)
    assert out.count() == 201
    per_pack = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()
    for r in per_pack:
        assert r.s <= 1000 or r.n == 1  # only a singleton may exceed
    # the oversized doc sits alone in its pack
    big = out.filter(F.col("doc_id") == 999).collect()[0]
    mates = out.filter(F.col("pack_id") == big.pack_id).count()
    assert mates == 1


def test_redact_pii_patterns_and_idempotence(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@example.co.uk or call +1 (555) 123-4567 now"),
            (2, "ssn 123-45-6789 card 4111 1111 1111 1111 host 10.0.0.1"),
            (3, "clean text stays untouched"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.text for r in corpus.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1] and "@" not in out[1]
    assert "<PHONE>" in out[1] and "555" not in out[1]
    assert "<SSN>" in out[2] and "6789" not in out[2]
    assert "<CARD>" in out[2] and "4111" not in out[2]
    assert "<IP>" in out[2] and "10.0.0.1" not in out[2]
    assert out[3] == "clean text stays untouched"
    # idempotent: redacting redacted text is a no-op
    twice = {r.doc_id: r.text for r in corpus.redact_pii(corpus.redact_pii(df)).collect()}
    assert twice == out


def test_redact_pii_card_digit_run_boundaries(spark):
    """ADVICE r5: pin the documented \\b caveats of the RE2-portable CARD
    pattern — separator-terminated card numbers now redact (the old
    trailing [ -]? stranded the final \\b), while 17+-digit runs and
    cards embedded in longer runs are deliberately left alone."""
    df = spark.createDataFrame(
        [
            (1, "card 4111-1111-1111-1111-extra"),   # dash right after card
            (2, "run 12345678901234567 long"),        # 17 digits: not a card
            (3, "id 000004111111111111110000 here"),  # embedded in 24-digit run
            (4, "pan 4111111111111111 end"),          # bare 16-digit card
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.text for r in corpus.redact_pii(df).collect()}
    assert "<CARD>" in out[1] and "4111" not in out[1]
    # long runs never match CARD (they may still partially match the
    # unanchored PHONE pattern later in the chain — a digit run that
    # long is not a card, which is what this pins)
    assert "<CARD>" not in out[2]
    assert "<CARD>" not in out[3]
    assert out[4] == "pan <CARD> end"


def test_redact_pii_plan_is_narrow(spark):
    df = spark.createDataFrame([(1, "a@b.co")], ["doc_id", "text"])
    plan = corpus.redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_prepare_corpus_end_to_end(spark):
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    rows = [
        (1, base),                      # keeper
        (2, base),                      # exact duplicate of 1 → dropped
        (3, base + " extra"),           # near-duplicate of 1 → dropped
        (4, "x y"),                     # low quality (too short) → dropped
        (5, "reach me at someone@example.com " + base + " totally different words follow here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus.prepare_corpus(df, min_quality=0.6, near_dup_threshold=0.7)
    got = {r.doc_id: r.text for r in out.collect()}
    assert 2 not in got and 3 not in got  # exact + near dup removed
    assert 4 not in got                   # quality-filtered
    assert 1 in got and 5 in got
    assert "<EMAIL>" in got[5] and "@" not in got[5]


def test_prepare_annotations_fused_matches_jvm(spark):
    """The FUSED annotation kernel behind prepare_corpus stage 1
    (quality + lang + exact-dedup fingerprint in one Arrow pass, one
    tokenize) must emit, column for column, exactly what the three
    column-expression operators emit on ladder-shaped rows: duplicates,
    near-duplicates, PII, NULL text, unicode case/NBSP edges and
    repetition. The per-operator edge rows (filter boundaries, HALF-UP
    rounding, regex-parity classes, language tie-breaks, fingerprint
    byte order) run through the same comparison in
    test_text_dedup_similarity's ``*_kernel_matches_jvm`` tests."""
    from datapipelineetl_spark.operators import text

    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    rows = [
        (1, base),
        (2, base),                                 # exact dup
        (3, base + " extra"),                      # near dup
        (4, "x y"),                                # low quality
        (5, "reach me at someone@example.com " + base + " totally new words"),
        (6, None),                                 # NULL text
        (7, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße plus the filler and with for that"),
        (8, "a\xa0b " + base),                     # NBSP inside a token
        (9, "fox " * 7),                           # repetition, trailing space
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = text.with_token_set_fingerprint(
        text.with_lang_id(text.with_quality_score(df)), out="__fp"
    )
    got = corpus._quality_lang_stage(df, "text", None, None)
    assert got.columns == want.columns
    got_rows = {r.doc_id: r.asDict() for r in got.collect()}
    assert got_rows == {r.doc_id: r.asDict() for r in want.collect()}
    assert len(got_rows) == len(rows)
    r = got_rows[6]
    assert (r["n_chars_m"], r["quality_score"], r["lang_pred"], r["__fp"]) == (
        None, 0.25, "und", None)
    assert got_rows[1]["__fp"] == got_rows[2]["__fp"] != got_rows[3]["__fp"]


def test_prepare_corpus_overwrites_existing_annotation_columns(spark):
    """A frame that already carries quality_score / lang_pred (and a
    stale __fp) comes out with ONE column of each, holding the
    recomputed values — never an AMBIGUOUS_REFERENCE at the filters,
    and never a filter or dedup decided by the stale input."""
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1
        (3, "x y"),                     # low quality
        (4, "el rapido zorro marron salta sobre el perro de la casa"),
    ]
    clean = spark.createDataFrame(rows, "doc_id long, text string")
    stale = clean.select(
        "doc_id", "text",
        F.lit(-1.0).alias("quality_score"),
        F.lit("xx").alias("lang_pred"),
        F.col("doc_id").cast("string").alias("__fp"),  # all distinct
    )
    kw = dict(min_quality=0.5, langs=("en",), near_dup_threshold=None, redact=False)
    want = corpus.prepare_corpus(clean, **kw)
    got = corpus.prepare_corpus(stale, **kw)
    assert got.columns.count("quality_score") == 1
    assert got.columns.count("lang_pred") == 1
    assert "__fp" not in got.columns
    assert sorted(got.columns) == sorted(want.columns)
    got_rows = {r.doc_id: r.asDict() for r in got.collect()}
    assert got_rows == {r.doc_id: r.asDict() for r in want.collect()}
    assert set(got_rows) == {1}
    assert got_rows[1]["quality_score"] >= 0.5 and got_rows[1]["lang_pred"] == "en"


def test_split_documents_windows_and_overlap(spark):
    txt = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, txt), (2, "a b")], ["doc_id", "text"])
    out = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in corpus.split_documents(
            df, max_tokens=4, overlap=2
        ).collect()
    }
    # doc 1: step=2 → chunks at offsets 0,2,4,6 (ceil((10-2)/2)=4)
    assert out[(1, 0)] == "w0 w1 w2 w3"
    assert out[(1, 1)] == "w2 w3 w4 w5"
    assert out[(1, 3)] == "w6 w7 w8 w9"
    assert (1, 4) not in out
    # short doc → exactly one chunk, whole text
    assert out[(2, 0)] == "a b" and (2, 1) not in out
    # consecutive chunks share `overlap` tokens
    assert out[(1, 0)].split()[-2:] == out[(1, 1)].split()[:2]
    with pytest.raises(ValueError, match="overlap"):
        corpus.split_documents(df, max_tokens=4, overlap=4)


def test_split_documents_null_text_yields_one_empty_chunk(spark):
    """ADVICE r5: NULL text must not silently drop the row (family-wide
    no-silent-drop rule) — it coalesces to '' and yields one empty chunk."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b c")],
        "doc_id int, text string",
    )
    out = {
        (r.doc_id, r.chunk_idx): r.chunk_text
        for r in corpus.split_documents(df, max_tokens=4, overlap=2).collect()
    }
    assert out[(1, 0)] == "" and (1, 1) not in out
    assert out[(2, 0)] == "a b c"


def test_split_documents_plan_is_narrow(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = corpus.split_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_contamination_pairs_and_drop_list(spark):
    shared = "the quick brown fox jumps over the lazy dog entirely today"
    train = spark.createDataFrame(
        [(100, shared + " train tail one"),
         (101, "completely unrelated training text with other words here now")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame(
        [(1, shared + " eval tail two"),       # contaminated (shares 8-grams)
         (2, "pristine evaluation sentence nothing in common with training")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.test_id, r.train_id): r.n_shared
        for r in corpus.contamination_pairs(train, test, n=8).collect()
    }
    assert (1, 100) in pairs and pairs[(1, 100)] >= 1
    assert all(t != 2 for (t, _tr) in pairs)  # clean doc pairs with nothing
    drop = {r.doc_id for r in corpus.contaminated_ids(train, test, n=8).collect()}
    assert drop == {1}


def test_contamination_bucket_cap_drops_boilerplate(spark):
    boiler = "this exact boilerplate phrase appears in every single document here"
    train = spark.createDataFrame(
        [(i, boiler) for i in range(10)], ["doc_id", "text"]
    )
    test = spark.createDataFrame([(1, boiler)], ["doc_id", "text"])
    capped = corpus.contamination_pairs(train, test, n=8, max_bucket_size=5)
    assert capped.count() == 0  # the phrase is in >5 train docs → capped out
    uncapped = corpus.contamination_pairs(train, test, n=8)
    assert uncapped.count() == 10


def test_ngram_counts_top_k(spark):
    from datapipelineetl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "red fox runs"), (2, "red fox sleeps"), (3, "blue fox runs")],
        ["doc_id", "text"],
    )
    out = [(r.ngram, r.n_docs) for r in t.ngram_counts(df, n=2, k=3).collect()]
    # "red fox" and "fox runs" both appear in 2 docs; ties order by ngram
    assert out[:2] == [("fox runs", 2), ("red fox", 2)]
    assert len(out) == 3 and out[2][1] == 1


def test_normalize_url_collapses_crawl_aliases(spark):
    """URL canonicalization (the pre-dedup key for web crawls): scheme/
    host case, default ports, fragments, tracking params, param order,
    and trailing slashes must all collapse; non-URLs pass through."""
    from datapipelineetl_spark.operators import text as t

    pairs = [
        ("HTTPS://Example.COM:443/Path/?b=2&utm_source=x&a=1#frag",
         "https://example.com/Path?a=1&b=2"),
        ("https://example.com/Path?a=1&b=2", "https://example.com/Path?a=1&b=2"),
        ("http://example.com:80/", "http://example.com"),
        ("https://example.com/page?fbclid=abc", "https://example.com/page"),
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in pairs], ["url"])
    got = [r.n for r in df.select(t.normalize_url("url").alias("n")).collect()]
    assert got == [want for _, want in pairs]
    # the whole point: the two aliases of /Path produce ONE dedup key
    assert got[0] == got[1]
    # narrow plan: no shuffle, no Python
    plan = df.select(t.normalize_url("url"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_remove_boilerplate_lines(spark):
    footer = "subscribe to our newsletter"
    docs = [
        (1, "unique alpha\n" + footer + "\nunique beta"),
        (2, footer + "\ndifferent body two"),
        (3, "different body three\n  " + footer + "  "),  # trimmed match
        (4, footer),                                      # all boilerplate
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r.text
        for r in corpus.remove_boilerplate_lines(
            df, max_doc_frac=0.5, min_docs=2
        ).collect()
    }
    assert out[1] == "unique alpha\nunique beta"  # order preserved
    assert out[2] == "different body two"
    assert out[3] == "different body three"
    assert out[4] == ""                            # emptied, not dropped
    assert len(out) == 4
    # below-threshold lines survive everywhere
    rare = corpus.remove_boilerplate_lines(
        spark.createDataFrame(docs[:2], ["doc_id", "text"]),
        max_doc_frac=0.95, min_docs=3,
    )
    assert {r.doc_id: r.text for r in rare.collect()}[1] == docs[0][1]


def test_sample_fraction_null_keys_get_deterministic_coin(spark):
    """NULL keys must not be silently dropped: they coalesce to a
    sentinel and sample like any value (kept at fraction 1.0)."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType(), True)])
    df = spark.createDataFrame([(1,), (2,), (None,)], schema)
    assert corpus.sample_fraction(df, 1.0, "k").count() == 3
    assert corpus.sample_fraction(df, 0.0, "k").count() == 0
    a = {r.k for r in corpus.sample_fraction(df, 0.5, "k").collect()}
    b = {r.k for r in corpus.sample_fraction(df, 0.5, "k").collect()}
    assert a == b  # null's coin is deterministic too


def test_contaminated_ids_train_side(spark):
    """side='train' must list the TRAINING doc ids that contain held-out
    n-grams — cross-id contamination, not id coincidence."""
    shared = "one two three four five six seven eight nine ten"
    train = spark.createDataFrame(
        [(100, shared + " train only tail"), (101, "totally unrelated training words here today")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame([(900, shared + " eval tail")], ["doc_id", "text"])
    drop_train = {r.doc_id for r in corpus.contaminated_ids(
        train, test, n=8, side="train"
    ).collect()}
    assert drop_train == {100}
    with pytest.raises(ValueError, match="side"):
        corpus.contaminated_ids(train, test, side="both")


def test_normalize_url_ports_are_scheme_specific(spark):
    """http:443 / https:80 are DIFFERENT origins from the portless form
    and must not collapse; only each scheme's own default port strips."""
    from datapipelineetl_spark.operators import text as t

    urls = [
        "http://example.com:443/a",
        "http://example.com/a",
        "https://example.com:80/a",
        "https://example.com/a",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r.n for r in df.select(t.normalize_url("url").alias("n")).collect()]
    assert got[0] != got[1]  # http:443 stays distinct
    assert got[2] != got[3]  # https:80 stays distinct
    assert got[0] == "http://example.com:443/a"
    assert got[2] == "https://example.com:80/a"


def test_repetition_stats_gopher_rules(spark):
    """Gopher-style intra-doc repetition: line and n-gram duplicate
    fractions, by count and by characters; NULL/empty text → all zeros,
    never null; the plan stays narrow (one Arrow eval, no Exchange)."""
    df = spark.createDataFrame(
        [(1, "a b\na b\nc d"),   # 1 of 3 lines repeated; 1 of 5 bigrams
         (2, "x y z w v u"),
         (3, None),
         (4, "t t t t t")],      # degenerate repetition
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in corpus.repetition_stats(df).collect()}
    assert out[1].dup_line_frac == 0.3333
    assert out[1].dup_line_char_frac == 0.3333  # 3 of 9 chars
    assert out[1].dup_2gram_frac == 0.2
    assert out[1].dup_3gram_frac == 0.0
    assert out[2].dup_line_frac == 0.0 and out[2].dup_2gram_frac == 0.0
    assert out[3].dup_line_frac == 0.0 and out[3].dup_3gram_frac == 0.0
    assert out[4].dup_2gram_frac == 0.75 and out[4].dup_3gram_frac == 0.6667
    # exactly one Arrow eval, no Exchange
    plan_k = corpus.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_k and "BatchEvalPython" not in plan_k
    assert "ArrowEvalPython" in plan_k
    with pytest.raises(TypeError):
        corpus.repetition_stats(df, impl="kernel")


def test_repetition_stats_kernel_matches_jvm(spark):
    r"""Round-16 optimization guard: the Arrow repetition kernel must
    emit row-identical ratios to the JVM HOF reference
    (tests/jvm_reference.py) on the hard edges —
    Java-vs-Python whitespace trim (NBSP is NOT \s, so it neither
    trims nor splits), CRLF line ends (\r trims off), unicode case
    mapping in gram text, tab/space runs, NULL/empty text, and
    gram_ns=() (the prepare-ladder pre-pass shape)."""
    rows = [
        (1, "a b\r\na b\nc d"),            # CRLF: \r must trim off
        (2, "line one\n\u00a0line one\nline one"),  # NBSP-led line stays distinct
        (3, "x\ty z\n x\ty z "),            # tabs inside lines, edge spaces
        (4, "\u0130stanbul maße \u0130stanbul maße"),      # lower() expands İ
        (5, ""),
        (6, None),
        (7, "a a a a a a a a"),
        (8, "one\n\n\n  \t\none"),           # blank/whitespace-only lines drop
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for gram_ns in ((2, 3), ()):
        jvm = {
            r.doc_id: r.asDict()
            for r in jvm_reference.repetition_stats(df, gram_ns=gram_ns).collect()
        }
        ker = {
            r.doc_id: r.asDict()
            for r in corpus.repetition_stats(df, gram_ns=gram_ns).collect()
        }
        assert jvm == ker, gram_ns


def test_semantic_dupes_drop_list_exact_and_lsh(spark):
    """SemDeDup-style drop list: near-identical embeddings cluster and
    every non-minimum member is dropped; the LSH path returns a SUBSET
    of the exact drop set (candidate-pruned, never false positives)."""
    from datapipelineetl_spark.operators import dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]),
         (3, [0.0, 1.0, 0.0]), (4, [1.0, 0.002, 0.0]),
         (5, [0.0, 0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    exact = {r.vec_id for r in dedup.semantic_dupes(emb, 0.95, exact=True).collect()}
    assert exact == {2, 4}  # 1-2-4 cluster keeps min id 1
    lsh = {
        r.vec_id
        for r in dedup.semantic_dupes(
            emb, 0.95, num_planes=4, num_tables=4
        ).collect()
    }
    assert lsh <= exact


def test_prepare_corpus_quality_ranked_representative(spark):
    """representative='quality': a near-dup cluster keeps its
    highest-quality member instead of the min id (ties → min id)."""
    base = " ".join(f"word{i}" for i in range(20)) + " the of"
    # near-dup (NOT exact: two extra unique tokens keep the token-set
    # fingerprints distinct, Jaccard 22/24 ≈ 0.92) with stopword ratio
    # pushed past 0.6 → quality 0.75 vs the clean copy's 1.0
    spam = base + " zzzq zzzr" + (" the" * 40)
    df = spark.createDataFrame(
        [(1, spam), (2, base), (3, "another unrelated document entirely " * 3)],
        ["doc_id", "text"],
    )
    # min_quality=0.5 keeps both cluster members (spam scores 0.75)
    min_id = {
        r.doc_id
        for r in corpus.prepare_corpus(df, min_quality=0.5, redact=False).collect()
    }
    assert min_id == {1, 3}  # default rule: min id 1 survives
    by_quality = {
        r.doc_id
        for r in corpus.prepare_corpus(
            df, min_quality=0.5, redact=False, representative="quality"
        ).collect()
    }
    assert by_quality == {2, 3}  # doc 2 outscores its near-dup doc 1
    with pytest.raises(ValueError, match="representative"):
        corpus.prepare_corpus(df, representative="best")


def test_prepare_corpus_optional_pre_passes(spark):
    """Optional stage-0 gates (off by default): remove_boilerplate strips
    a corpus-wide banner before scoring; max_dup_line_frac drops docs
    that are mostly one repeated line."""
    good = "a perfectly reasonable document with the usual amount of words"
    rows = (
        [(i, f"SHARED BANNER\n{good} variant {i}") for i in range(10)]
        + [(99, "SHARED BANNER\nspam line\nspam line\nspam line\nspam line")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus.prepare_corpus(
        df,
        min_quality=None,
        near_dup_threshold=None,
        redact=False,
        remove_boilerplate=True,
        max_dup_line_frac=0.5,
    )
    got = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    # the banner is gone from every survivor
    assert all("SHARED BANNER" not in t for t in got.values())
    # the 80%-one-line doc is dropped (post-banner dup_line_frac 0.75)
    assert 99 not in got and len(got) == 10
    # defaults leave the input path untouched
    base = corpus.prepare_corpus(
        df, min_quality=None, near_dup_threshold=None, redact=False
    )
    assert base.count() == 11


def test_pack_sequences_concatenates_in_doc_order(spark):
    """pack_sequences: per-pack concatenated id arrays preserve document
    order, token totals equal the sum of member lengths, empty-sequence
    docs still pack (as zero-length members)."""
    from datapipelineetl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a"), (3, ""), (4, "b c")],
        "doc_id int, text string",
    )
    vocab = t.build_vocab(df)
    enc = t.encode_tokens(df, vocab)
    out = corpus.pack_sequences(enc, budget=100, n_shards=1)
    rows = out.collect()
    assert sum(r.n_docs for r in rows) == 4
    assert sum(r.n_tokens for r in rows) == 6
    all_ids = [i for r in sorted(rows, key=lambda r: r.pack_id) for i in r.token_ids]
    # single shard, budget 100 → one pack, doc order 1,2,3,4
    ids = {r.token: r.token_id for r in vocab.collect()}
    expected = [ids["a"], ids["b"], ids["c"], ids["a"], ids["b"], ids["c"]]
    assert all_ids == expected


def test_prepare_corpus_semantic_stage(spark):
    """Optional SemDeDup stage: passing an embeddings frame drops docs
    whose embeddings near-duplicate a surviving lower-id doc even when
    their TEXT shares nothing; absent embeddings, behavior is unchanged."""
    rows = [
        (1, "a document about economic policy in plain prose words here"),
        (2, "ein dokument ueber wirtschaftspolitik in einfachen worten hier"),
        (3, "completely unrelated text on marine biology and tide pools"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    base = corpus.prepare_corpus(df, min_quality=None, redact=False)
    assert {r.doc_id for r in base.collect()} == {1, 2, 3}  # no text overlap
    sem = corpus.prepare_corpus(
        df, min_quality=None, redact=False,
        embeddings=emb, semantic_threshold=0.95,
    )
    assert {r.doc_id for r in sem.collect()} == {1, 3}  # 2 ≈ 1 in embedding space


def test_split_corpus_disjoint_exhaustive_deterministic(spark, docs):
    """split_corpus: every row lands in exactly one band; same dict +
    salt reproduces the split; fractions must sum to 1."""
    out = corpus.split_corpus(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id"
    )
    got = {r.doc_id: r.split for r in out.collect()}
    assert len(got) == 200  # exhaustive, no drops
    by = {}
    for s in got.values():
        by[s] = by.get(s, 0) + 1
    assert set(by) <= {"train", "val", "test"}
    assert by["train"] > by.get("val", 0) and by["train"] > by.get("test", 0)
    again = {r.doc_id: r.split for r in corpus.split_corpus(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id"
    ).collect()}
    assert got == again
    # a sampled subset's members keep their band (split is per-key)
    sub = corpus.split_corpus(
        corpus.sample_fraction(docs, 0.5, "doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="doc_id",
    )
    assert all(got[r.doc_id] == r.split for r in sub.collect())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        corpus.split_corpus(docs, {"a": 0.5, "b": 0.4}, key_col="doc_id")


def test_pack_sequences_null_id_array_does_not_poison_pack(spark):
    """Review fix: a NULL id array (malformed upstream encode) coalesces
    to empty instead of nulling the whole pack's tensor via flatten."""
    enc = spark.createDataFrame(
        [(1, [1, 2]), (2, None), (3, [3])],
        "doc_id int, input_ids array<long>",
    )
    rows = corpus.pack_sequences(enc, budget=100, n_shards=1).collect()
    assert len(rows) == 1
    assert rows[0].token_ids == [1, 2, 3]
    assert rows[0].n_docs == 3 and rows[0].n_tokens == 3


def test_attrition_report_accounts_for_every_stage(spark):
    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    rows = [
        (1, base), (2, base),             # exact dup → stage-2 drop
        (3, base + " extra"),             # near dup → stage-3 drop
        (4, "!!! ??? !!!"),               # low quality (all punct) → stage-1 drop
        (5, "an entirely different well formed document with the usual words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    rep = {r.stage: (r.n_rows, r.n_dropped) for r in corpus.attrition_report(df).collect()}
    assert rep["0_input"] == (5, 0)
    assert rep["1_quality_lang"] == (4, 1)
    assert rep["2_exact_dedup"] == (3, 1)
    assert rep["3_near_dedup"] == (2, 1)
    # the survivors the report implies == prepare_corpus's actual output
    surv = corpus.prepare_corpus(df, redact=False).count()
    assert surv == rep["3_near_dedup"][0]

    # with_attrition=True: the SAME report as a free by-product of the
    # run itself (Observation metrics on the ladder's own jobs — no
    # second pass), and the corpus output identical to the plain call
    out, report = corpus.prepare_corpus(df, redact=False, with_attrition=True)
    got = {r.stage: (r.n_rows, r.n_dropped) for r in report.collect()}
    assert got == rep
    assert {r.doc_id for r in out.collect()} == {
        r.doc_id for r in corpus.prepare_corpus(df, redact=False).collect()
    }
    # no-dedup path still reports stages 0-2 (the forced barrier
    # populates the observations even when no near-dup stage runs)
    _, rep_nd = corpus.prepare_corpus(
        df, redact=False, near_dup_threshold=None, with_attrition=True
    )
    nd = {r.stage: (r.n_rows, r.n_dropped) for r in rep_nd.collect()}
    assert nd == {"0_input": (5, 0), "1_quality_lang": (4, 1),
                  "2_exact_dedup": (3, 1)}


def test_shuffle_corpus_is_deterministic_partition(spark):
    """shuffle_corpus: (shard, pos) is a deterministic permutation —
    every row addressed exactly once per shard, positions dense from 1,
    same output on re-run, different salt reorders."""
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    out = corpus.shuffle_corpus(df, key_col="doc_id", n_shards=8, salt="a")
    rows = {(r.shard, r.pos): r.doc_id for r in out.collect()}
    assert len(rows) == 200  # one address per row
    by_shard: dict[int, list[int]] = {}
    for (s, p), _ in rows.items():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s  # dense
    again = {
        (r.shard, r.pos): r.doc_id
        for r in corpus.shuffle_corpus(
            df, key_col="doc_id", n_shards=8, salt="a"
        ).collect()
    }
    assert again == rows  # reproducible
    other = {
        (r.shard, r.pos): r.doc_id
        for r in corpus.shuffle_corpus(
            df, key_col="doc_id", n_shards=8, salt="b"
        ).collect()
    }
    assert other != rows  # new salt = new permutation
    # n_shards=1 = one global permutation
    one = corpus.shuffle_corpus(df, key_col="doc_id", n_shards=1).collect()
    assert sorted(r.pos for r in one) == list(range(1, 201))
    with pytest.raises(ValueError, match="n_shards"):
        corpus.shuffle_corpus(df, key_col="doc_id", n_shards=0)


def test_sample_k_per_stratum_exact_and_nested(spark):
    """Exactly min(k, stratum size) rows per stratum; smaller k is a
    PREFIX of larger k (nested subsamples); deterministic."""
    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "s"])
    k4 = corpus.sample_k_per_stratum(df, 4, "s", key_col="doc_id")
    got4 = {r.s: set() for r in k4.collect()}
    for r in k4.collect():
        got4[r.s].add(r.doc_id)
    assert len(got4["big"]) == 4
    assert len(got4["small"]) == 4
    k40 = corpus.sample_k_per_stratum(df, 40, "s", key_col="doc_id")
    got40: dict[str, set] = {}
    for r in k40.collect():
        got40.setdefault(r.s, set()).add(r.doc_id)
    assert len(got40["big"]) == 40
    assert len(got40["small"]) == 10  # min(k, stratum size)
    assert got4["big"] <= got40["big"]  # nested
    assert got4["small"] <= got40["small"]
    with pytest.raises(ValueError, match="k must"):
        corpus.sample_k_per_stratum(df, 0, "s", key_col="doc_id")


def test_prepare_corpus_normalize_stage_unifies_spellings(spark):
    """normalize=True: two documents differing only in combining-vs-
    precomposed accents and CRLF become EXACT duplicates and collapse in
    the fingerprint stage; with the stage off they both survive."""
    a = "a well formed document about the cafe culture of lisbon today ok"
    rows = [
        (1, a.replace("cafe", "café") + "\nend"),       # precomposed, LF
        (2, a.replace("cafe", "café") + "\r\nend"),    # combining, CRLF
        (3, "an entirely different well formed document with the usual words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = corpus.prepare_corpus(df, near_dup_threshold=None, redact=False)
    assert {r.doc_id for r in plain.collect()} == {1, 2, 3}
    norm = corpus.prepare_corpus(
        df, near_dup_threshold=None, redact=False, normalize=True
    )
    assert {r.doc_id for r in norm.collect()} == {1, 3}


def test_select_until_token_budget_semantics(spark):
    """Budget selection: best-first exclusive-prefix semantics — the
    boundary doc straddles; ties break on id; NULL order/token rows are
    excluded; and the plan's only single-partition exchange is over the
    metadata-sized key aggregate, never the row-level frame."""
    rows = [
        # (id, score, tokens) — score 0.9: ids 1,2; 0.5: id 3; 0.1: id 4
        (1, 0.9, 40), (2, 0.9, 40), (3, 0.5, 40), (4, 0.1, 40),
        (5, None, 40), (6, 0.9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, q double, nt int")
    pick = lambda b: {  # noqa: E731
        r.doc_id
        for r in corpus.select_until_token_budget(
            df, b, "nt", "q", id_col="doc_id"
        ).collect()
    }
    assert pick(1) == {1}            # boundary doc straddles (offset 0 < 1)
    assert pick(40) == {1}           # id 2 starts AT 40 — excluded
    assert pick(41) == {1, 2}
    assert pick(81) == {1, 2, 3}     # order: score desc, id asc
    assert pick(1000) == {1, 2, 3, 4}  # nulls never selected
    with pytest.raises(ValueError, match="budget"):
        corpus.select_until_token_budget(df, 0, "nt", "q")
    # ascending order flips the priority
    asc = {
        r.doc_id
        for r in corpus.select_until_token_budget(
            df, 41, "nt", "q", descending=False
        ).collect()
    }
    assert asc == {4, 3}
    plan = (
        corpus.select_until_token_budget(df, 100, "nt", "q")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange SinglePartition") == 1


def test_corpus_report_shapes_and_totals(spark):
    """corpus_report: one row per group; totals and percentiles match a
    hand computation."""
    rows = [
        (1, "web", "en", "the cat and the dog sat"),          # 6 tokens
        (2, "web", "en", "of mice and men"),                  # 4 tokens
        (3, "web", "de", "der hund"),                         # 2 tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])
    got = {(r.source, r.lang): r for r in corpus.corpus_report(df).collect()}
    assert set(got) == {("web", "en"), ("web", "de")}
    en = got[("web", "en")]
    assert en.n_docs == 2 and en.total_tokens == 10
    assert en.total_chars == len(rows[0][3]) + len(rows[1][3])
    assert en.p50_tokens == 5.0 and en.p90_tokens == pytest.approx(5.8)
    de = got[("web", "de")]
    assert de.n_docs == 1 and de.total_tokens == 2 and de.p50_tokens == 2.0


def test_remove_boilerplate_paragraph_granularity(spark):
    """separator='\\n\\n': a two-line paragraph repeated across the
    corpus is removed as a UNIT, while the same lines at line
    granularity each clear the threshold individually — and a unique
    paragraph sharing one line with the boilerplate block survives."""
    sig = "sent from my phone\nplease consider the environment"
    rows = [
        (1, f"real content one\n\n{sig}"),
        (2, f"other real text\n\n{sig}"),
        (3, f"third document body\n\n{sig}"),
        (4, "unique paragraph\nsent from my phone but as prose"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.text
        for r in corpus.remove_boilerplate_lines(
            df, max_doc_frac=0.5, min_docs=2, separator="\n\n"
        ).collect()
    }
    assert out[1] == "real content one"
    assert out[2] == "other real text"
    assert out[3] == "third document body"
    # doc 4's paragraph differs from the signature block → untouched
    assert out[4] == rows[3][1]


def test_corpus_drift_statuses(spark):
    """corpus_drift: appeared/vanished/changed/stable all classified,
    deltas signed correctly; inputs are report-shaped frames."""
    cols = ["source", "lang", "n_docs", "total_tokens", "mean_quality"]
    before = spark.createDataFrame(
        [("web", "en", 10, 1000, 0.8), ("web", "de", 5, 400, 0.7),
         ("code", "en", 3, 900, 0.9)],
        cols,
    )
    after = spark.createDataFrame(
        [("web", "en", 12, 1100, 0.75), ("web", "de", 5, 400, 0.7),
         ("wiki", "en", 4, 300, 0.95)],
        cols,
    )
    got = {(r.source, r.lang): r
           for r in corpus.corpus_drift(before, after).collect()}
    assert got[("web", "en")].status == "changed"
    assert got[("web", "en")].doc_delta == 2
    assert got[("web", "en")].token_delta == 100
    assert got[("web", "en")].quality_delta == pytest.approx(-0.05)
    assert got[("web", "de")].status == "stable"
    assert got[("code", "en")].status == "vanished"
    assert got[("code", "en")].n_docs_after == 0
    assert got[("code", "en")].doc_delta == -3
    assert got[("wiki", "en")].status == "appeared"
    assert got[("wiki", "en")].n_docs_before == 0


def test_write_token_shards_binary_round_trip(spark, tmp_path):
    """tensor.write_token_shards: each shard lands as little-endian
    binary + JSON index; bytes round-trip through numpy exactly in pos
    order; a re-run (replay) overwrites to identical bytes; out-of-range
    ids fail loudly instead of silently wrapping."""
    import json
    import struct

    from datapipelineetl_spark.sinks import tensor

    rows = [
        (0, 1, [1, 2, 3]),
        (0, 2, [4, 5]),
        (1, 1, [9]),
        (1, 2, []),
    ]
    df = spark.createDataFrame(rows, "shard int, pos long, token_ids array<long>")
    out = str(tmp_path / "shards")
    result = tensor.write_token_shards(df, out)
    # EAGER contract: the shard files exist BEFORE any action on the
    # returned manifest (a lazy sink whose caller never materializes the
    # manifest would silently write nothing — ADVICE r7)
    import hashlib
    import os as _os

    assert _os.path.exists(out + "/shard-00000.bin")
    manifest = {r.shard: r for r in result.collect()}
    assert manifest[0].n_sequences == 2 and manifest[0].n_tokens == 5
    assert manifest[1].n_sequences == 2 and manifest[1].n_tokens == 1

    raw = open(out + "/shard-00000.bin", "rb").read()
    assert struct.unpack("<5i", raw) == (1, 2, 3, 4, 5)
    idx = json.load(open(out + "/shard-00000.idx.json"))
    assert idx["dtype"] == "int32"
    assert [s["offset"] for s in idx["sequences"]] == [0, 3]
    # integrity digest: manifest and index both carry the md5 of the
    # shard file's actual bytes (loader-side verification hook)
    assert manifest[0].md5 == hashlib.md5(raw).hexdigest() == idx["md5"]
    # no attempt-unique temp files left behind after the atomic installs
    assert not [f for f in _os.listdir(out) if f.endswith(".tmp")]

    # replay: same bytes, no duplication
    tensor.write_token_shards(df, out).collect()
    assert open(out + "/shard-00000.bin", "rb").read() == raw

    bad = spark.createDataFrame(
        [(0, 1, [1 << 40])], "shard int, pos long, token_ids array<long>"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="out of int32 range"):
        tensor.write_token_shards(bad, str(tmp_path / "bad")).collect()
    # int64 dtype accepts the same id
    ok = tensor.write_token_shards(
        bad, str(tmp_path / "wide"), dtype="int64"
    ).collect()
    assert ok[0].n_tokens == 1
    raw64 = open(str(tmp_path / "wide") + "/shard-00000.bin", "rb").read()
    assert struct.unpack("<q", raw64) == (1 << 40,)


def test_write_token_shards_put_mode_object_store(spark, tmp_path):
    """PUT-atomic object-store mode (VERDICT r8 item 7): with an
    injected ``put`` the kernel issues exactly ONE all-or-nothing PUT
    per object (binary first, then index), creates no temp files and no
    directories, produces byte-identical artifacts to posix mode, and a
    replay re-PUTs identical bytes (last-writer-wins safe). The fake
    store appends a per-object PUT log so call counts and payload sizes
    are observable across the executor process boundary."""
    import json
    import os as _os

    from datapipelineetl_spark.sinks import tensor

    rows = [(0, 1, [1, 2, 3]), (0, 2, [4, 5]), (1, 1, [9]), (1, 2, [])]
    df = spark.createDataFrame(rows, "shard int, pos long, token_ids array<long>")

    posix_out = str(tmp_path / "posix")
    tensor.write_token_shards(df, posix_out)

    put_out = str(tmp_path / "store")
    _os.makedirs(put_out)  # the FAKE lands on local fs; put mode itself
    # must not mkdir (object stores have no directories)

    def fake_put(path, data):
        # one call = one complete object + one log line (the log rides
        # the fs because applyInPandas runs in a separate worker process)
        with open(path, "wb") as f:
            f.write(data)
        with open(path + ".putlog", "ab") as f:
            f.write(f"{len(data)}\n".encode())

    manifest = {r.shard: r for r in
                tensor.write_token_shards(df, put_out, put=fake_put).collect()}
    assert manifest[0].n_tokens == 5 and manifest[1].n_tokens == 1

    for name in ("shard-00000.bin", "shard-00000.idx.json",
                 "shard-00001.bin", "shard-00001.idx.json"):
        want = open(_os.path.join(posix_out, name), "rb").read()
        got = open(_os.path.join(put_out, name), "rb").read()
        assert got == want, f"{name} differs between posix and put mode"
        log = open(_os.path.join(put_out, name + ".putlog")).read().splitlines()
        assert log == [str(len(want))], f"{name}: expected exactly one PUT"
    # no temp names ever existed in put mode (nothing to clean up, and
    # nothing that could have been renamed)
    assert not [f for f in _os.listdir(put_out) if ".tmp" in f]

    # the PUT artifact is a first-class read_token_shards artifact
    back = {(r.shard, r.pos): r.token_ids
            for r in tensor.read_token_shards(spark, put_out).collect()}
    assert back == {(0, 1): [1, 2, 3], (0, 2): [4, 5], (1, 1): [9], (1, 2): []}

    # replay (speculative attempt / retried task): one more PUT per
    # object, byte-identical payload — the log shows two equal sizes
    tensor.write_token_shards(df, put_out, put=fake_put)
    log = open(_os.path.join(put_out, "shard-00000.bin.putlog")).read().splitlines()
    assert len(log) == 2 and log[0] == log[1]
    idx = json.load(open(_os.path.join(put_out, "shard-00000.idx.json")))
    assert idx["md5"] == manifest[0].md5


def test_text_to_tensor_to_disk_round_trip(spark, tmp_path):
    """The COMPLETE artifact pipeline: documents -> vocab -> token ids
    -> packed sequences -> shuffled (shard, pos) addresses -> binary
    shard files on disk — and the bytes read back equal the packed id
    streams exactly (loader-eye view of the whole text->tensor path)."""
    import json
    import struct

    from datapipelineetl_spark.operators import text as text_ops
    from datapipelineetl_spark.sinks import tensor

    rows = [(i, f"doc number {i} says the quick brown fox " * (1 + i % 3))
            for i in range(1, 13)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab = text_ops.build_vocab(docs)
    encoded = text_ops.encode_tokens(docs, vocab)
    packed = corpus.pack_sequences(
        encoded, budget=32, id_col="doc_id", ids_col="input_ids", n_shards=4
    )
    addressed = packed.join(
        corpus.shuffle_corpus(
            packed.select("pack_id"), key_col="pack_id", n_shards=2, salt="e0"
        ),
        "pack_id",
    )
    out = str(tmp_path / "artifact")
    manifest = tensor.write_token_shards(addressed, out).collect()
    assert sum(m.n_tokens for m in manifest) == sum(
        r.n_tokens for r in packed.collect()
    )

    # loader-eye readback: every sequence's bytes at its index offset
    # must equal the engine-side token_ids for that pack
    expect = {
        (r.shard, r.pos): list(r.token_ids)
        for r in addressed.select("shard", "pos", "token_ids").collect()
    }
    seen = 0
    for m in manifest:
        raw = open(m.path, "rb").read()
        idx = json.load(open(m.path[:-4] + ".idx.json"))
        for s in idx["sequences"]:
            ids = list(struct.unpack_from(f"<{s['n_tokens']}i", raw,
                                          s["offset"] * 4))
            assert ids == expect[(idx["shard"], s["pos"])]
            seen += 1
    assert seen == len(expect) and seen > 0


def test_read_token_shards_round_trip_and_checksum(spark, tmp_path):
    """tensor.read_token_shards: the loader-eye inverse — every (shard,
    pos, ids) row comes back exactly; a flipped byte in a shard file
    fails LOUDLY against the index's md5 (and is readable again with
    verification off, returning the corrupt value rather than
    crashing)."""
    from datapipelineetl_spark.sinks import tensor

    rows = [(0, 1, [1, 2, 3]), (0, 2, [4, 5]), (1, 1, [9]), (1, 2, [])]
    df = spark.createDataFrame(rows, "shard int, pos long, token_ids array<long>")
    out = str(tmp_path / "shards")
    tensor.write_token_shards(df, out)
    back = {(r.shard, r.pos): r.token_ids
            for r in tensor.read_token_shards(spark, out).collect()}
    assert back == {(0, 1): [1, 2, 3], (0, 2): [4, 5], (1, 1): [9], (1, 2): []}

    # corrupt one byte of shard 0 → checksum failure names the file
    binp = tmp_path / "shards" / "shard-00000.bin"
    raw = bytearray(binp.read_bytes())
    raw[0] ^= 0xFF
    binp.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="checksum mismatch.*shard-00000"):
        tensor.read_token_shards(spark, out).collect()
    unverified = tensor.read_token_shards(spark, out, verify_checksum=False)
    assert unverified.count() == 4  # opt-out path still reads

    with pytest.raises(ValueError, match="no shard"):
        tensor.read_token_shards(spark, str(tmp_path / "empty"))


def test_pack_best_fit_tighter_than_greedy(spark):
    """pack_best_fit: budget respected (singleton exception), every row
    returns, deterministic, and on ragged lengths it uses no more packs
    than greedy (the padding win that justifies a second packer)."""
    rows = [(i, (i * 37) % 400 + 50) for i in range(200)] + [(999, 5000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = corpus.pack_best_fit(df, "doc_id", "n_tokens", budget=1000, n_shards=8)
    assert out.count() == 201
    per_pack = out.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()
    for r in per_pack:
        assert r.s <= 1000 or r.n == 1  # only a singleton may exceed
    big = out.filter(F.col("doc_id") == 999).collect()[0]
    assert out.filter(F.col("pack_id") == big.pack_id).count() == 1
    again = {(r.doc_id, r.pack_id) for r in corpus.pack_best_fit(
        df, "doc_id", "n_tokens", budget=1000, n_shards=8
    ).collect()}
    assert {(r.doc_id, r.pack_id) for r in out.collect()} == again

    n_bf = out.select("pack_id").distinct().count()
    n_greedy = (
        corpus.pack_greedy(df, "doc_id", "n_tokens", budget=1000, n_shards=8)
        .select("pack_id").distinct().count()
    )
    assert n_bf <= n_greedy
    # and best-fit actually recovers stranded capacity on an adversarial
    # next-fit case: [600, 600, 400, 400] budget 1000 → greedy in id
    # order packs (600),(600,400),(400)=3; best-fit-decreasing packs
    # (600,400),(600,400)=2
    adv = spark.createDataFrame(
        [(1, 600), (2, 600), (3, 400), (4, 400)], ["doc_id", "n_tokens"]
    )
    bf = corpus.pack_best_fit(adv, "doc_id", "n_tokens", budget=1000, n_shards=1)
    assert bf.select("pack_id").distinct().count() == 2
    with pytest.raises(ValueError, match="budget"):
        corpus.pack_best_fit(adv, "doc_id", "n_tokens", budget=0)


def test_dsir_kernel_matches_jvm(spark):
    """Round-16 optimization guard: the Arrow DSIR gram/bucket kernel
    must emit row-identical model tables AND per-doc weights to the JVM
    explode/hash reference (tests/jvm_reference.py) — per-OCCURRENCE
    unigram+bigram multisets (repeated grams count twice), the
    degenerate-shingle filter (1-token and empty docs contribute no
    bigram), zero-gram and NULL docs keeping their (n_grams 0, NULL
    weight) row, NBSP/unicode-case tokenizer parity, and pmod-vs-%%
    bucket equality."""
    rows = [
        (1, "the quick brown fox the quick"),      # repeated grams
        (2, "solo"),                                # 1 token: no bigram
        (3, ""),                                    # zero grams
        (4, None),                                  # NULL text
        (5, "a b c"),                          # NBSP glues a b
        (6, "İstanbul STRASSE ẞ ΣΟΦΟΣ İstanbul"),
        (7, "x y z x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") % 2 == 1)
    for nb in (7, 4096):
        mj = {r["__b"]: (r["__raw"], r["__tgt"])
              for r in jvm_reference.dsir_model(df, target, n_buckets=nb).collect()}
        mk = {r["__b"]: (r["__raw"], r["__tgt"])
              for r in corpus.dsir_model(df, target, n_buckets=nb).collect()}
        assert mj == mk, nb
        wj = {r.doc_id: (r.n_grams, r.dsir_weight)
              for r in jvm_reference.dsir_weights(df, target, n_buckets=nb).collect()}
        wk = {r.doc_id: (r.n_grams, r.dsir_weight)
              for r in corpus.dsir_weights(df, target, n_buckets=nb).collect()}
        assert wj == wk, nb
        assert wk[3] == (0, None) and wk[4] == (0, None)
    with pytest.raises(TypeError):
        corpus.dsir_model(df, target, impl="kernel")
    with pytest.raises(TypeError):
        corpus.dsir_score(df, corpus.dsir_model(df, target), impl="kernel")
    with pytest.raises(TypeError):
        corpus.dsir_weights(df, target, impl="kernel")


def test_dsir_resample_gumbel_topk(spark):
    """dsir_resample: deterministic gumbel-top-k — fixed k, repeatable,
    salt-dependent, weight-respecting at low temperature, null weights
    excluded."""
    rows = [(i, float(i) / 10.0) for i in range(100)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id int, dsir_weight double")
    got = corpus.dsir_resample(df, k=20, salt="e0").collect()
    assert len(got) == 20
    assert all(r.doc_id != 999 for r in got)  # null weight excluded
    again = {r.doc_id for r in corpus.dsir_resample(df, k=20, salt="e0").collect()}
    assert {r.doc_id for r in got} == again
    other = {r.doc_id for r in corpus.dsir_resample(df, k=20, salt="e1").collect()}
    assert again != other  # new salt, new sample
    # temperature -> 0: selection approaches deterministic top-k by weight
    cold = {r.doc_id for r in
            corpus.dsir_resample(df, k=10, temperature=1e-6).collect()}
    assert cold == set(range(90, 100))
    # higher-weight docs are over-represented at temperature 1
    assert sum(1 for d in again if d >= 50) > sum(1 for d in again if d < 50)
    # k beyond the scored rows returns them all
    assert corpus.dsir_resample(df, k=500).count() == 100
    with pytest.raises(ValueError, match="temperature"):
        corpus.dsir_resample(df, k=5, temperature=0.0)


def test_cluster_balanced_sample_composition(spark):
    """cluster_balanced_sample: exactly min(k, cluster size) docs per
    k-means cluster, deterministic, nested in k, unembedded docs
    excluded."""
    docs_rows = [(i, f"doc {i}") for i in range(24)] + [(99, "unembedded")]
    docs = spark.createDataFrame(docs_rows, ["doc_id", "text"])
    emb_rows = (
        [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(12)]
        + [(i, [-10.0, (i % 2) * 0.1]) for i in range(12, 24)]
    )
    emb = spark.createDataFrame(emb_rows, "vec_id int, embedding array<float>")
    out = corpus.cluster_balanced_sample(
        docs, emb, k_per_cluster=5, n_clusters=2, iters=2, salt="s"
    )
    rows = out.collect()
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.doc_id)
    assert len(by_cluster) == 2
    assert all(len(v) == 5 for v in by_cluster.values())
    assert all(99 not in v for v in by_cluster.values())
    # the two blobs stay in separate strata
    assert all(v <= set(range(12)) or v <= set(range(12, 24))
               for v in by_cluster.values())
    # nested: k=3 is a prefix of k=5 per cluster
    small = {r.doc_id for r in corpus.cluster_balanced_sample(
        docs, emb, k_per_cluster=3, n_clusters=2, iters=2, salt="s"
    ).collect()}
    assert small <= {r.doc_id for r in rows}
    # deterministic rerun
    again = {(r.doc_id, r.cluster) for r in corpus.cluster_balanced_sample(
        docs, emb, k_per_cluster=5, n_clusters=2, iters=2, salt="s"
    ).collect()}
    assert again == {(r.doc_id, r.cluster) for r in rows}


def test_temperature_weights_and_mix(spark):
    """temperature_weights: alpha=1 reproduces the natural mix (every
    fraction 1 → temperature_mix keeps everything); alpha<1 flattens —
    the BIG source downsamples while the LIMITING source is kept whole
    (the mix_corpora never-up-sample rule); weights normalize to 1 and
    preserve the size order; NULL sources are a group, not a drop."""
    from datapipelineetl_spark.operators.corpus import (
        temperature_mix,
        temperature_weights,
    )

    counts = {"big": 400, "mid": 200, "tail": 100}
    w1 = temperature_weights(counts, alpha=1.0)
    assert abs(sum(w1.values()) - 1.0) < 1e-12
    assert abs(w1["big"] - 4 / 7) < 1e-12
    w = temperature_weights(counts, alpha=0.5)
    assert abs(sum(w.values()) - 1.0) < 1e-12
    # flattened but order-preserving: natural share of big is 4/7≈0.571,
    # sqrt-share is 2/(2+sqrt(2)+1)≈0.453 — still the largest
    assert w1["big"] > w["big"] > w["mid"] > w["tail"]

    rows = [(i, "big" if i < 400 else "mid" if i < 600 else "tail" if i < 700
             else None) for i in range(710)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1: natural mix — everything kept (all fractions exactly 1)
    assert temperature_mix(df, "doc_id", alpha=1.0).count() == 710
    # alpha=0.25: the NULL group (10 rows — smallest, so largest
    # weight-to-size ratio after flattening) is the LIMITING source:
    # kept whole, not dropped; every other source downsamples toward
    # the flattened proportions (w_big/w_tail = 4^0.25 ≈ 1.41, vs the
    # natural 4.0)
    out = temperature_mix(df, "doc_id", alpha=0.25, salt="t1")
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got[None] == 10  # null source survives whole, never dropped
    assert got["big"] < 400 and got["mid"] < 200 and got["tail"] < 100
    assert got["big"] / got["tail"] < 4.0  # flatter than natural
    # validation
    with pytest.raises(ValueError, match="alpha"):
        temperature_weights(counts, alpha=0.0)
    with pytest.raises(ValueError, match="count"):
        temperature_weights({"a": 0})


def test_temperature_mix_join_dispatch_parity(spark):
    """VERDICT r12 "what's wrong" #1: the CASE threshold tree's depth
    equals the source cardinality, so above case_max_sources the
    operator dispatches to a broadcast-join threshold lookup. The two
    forms must agree ROW FOR ROW (same integer thresholds, same hash
    gate — value-identical by construction, asserted here), including
    the NULL-source group, and auto must pick the join above the
    threshold without changing the output."""
    from datapipelineetl_spark.operators.corpus import temperature_mix

    # 12 skewed sources + a NULL group, sized 5..120
    rows = []
    doc = 0
    for s in range(12):
        for _ in range(5 + 10 * s):
            rows.append((doc, f"src{s:02d}"))
            doc += 1
    for _ in range(9):
        rows.append((doc, None))
        doc += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    case = temperature_mix(df, "doc_id", alpha=0.4, salt="d1", dispatch="case")
    join = temperature_mix(df, "doc_id", alpha=0.4, salt="d1", dispatch="join")
    canon = lambda d: sorted((r.doc_id, r.source) for r in d.collect())
    got_case, got_join = canon(case), canon(join)
    assert got_case == got_join
    assert 0 < len(got_case) < len(rows)  # a real downsample happened
    assert {s for _, s in got_case} >= {None}  # null group never dropped
    # join output carries no helper columns
    assert join.columns == df.columns
    # auto dispatches by cardinality, output invariant either way
    auto_join = temperature_mix(
        df, "doc_id", alpha=0.4, salt="d1", dispatch="auto", case_max_sources=4
    )
    assert canon(auto_join) == got_case
    with pytest.raises(ValueError, match="dispatch"):
        temperature_mix(df, "doc_id", dispatch="nope")


def test_ngram_hashes_kernel_matches_jvm(spark):
    """Round-16 optimization guard: the Arrow ``ngram_hashes`` kernel
    (str.lower + re.ASCII ``\\s+`` split + hashlib md5-60) must emit
    row-identical (id, hash) multisets to the JVM shingle/explode
    reference (tests/jvm_reference.py) — including Java-vs-Python
    whitespace semantics (NBSP is NOT split), unicode case mapping,
    empty and NULL text, sub-n-token docs, and the drop_empty phantom
    gram."""
    rows = [
        (1, "The quick\tbrown FOX\njumps over the lazy dog and more words"),
        (2, "a b c d e f g h i j"),  # NBSP glues tokens
        (3, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße x y z"),
        (4, ""),
        (5, None),
        (6, "short doc"),
        (7, "  \t \n \f\r "),
        (8, "word " * 30),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 8):
        for de in (True, False):
            jvm = sorted(
                (r["doc_id"], r["__g"])
                for r in jvm_reference.ngram_hashes(df, n=n, drop_empty=de).collect()
            )
            ker = sorted(
                (r["doc_id"], r["__g"])
                for r in corpus.ngram_hashes(df, n=n, drop_empty=de).collect()
            )
            assert jvm == ker, (n, de)
            assert len(jvm) > 0 or n > 2
    with pytest.raises(TypeError):
        corpus.ngram_hashes(df, impl="kernel")
