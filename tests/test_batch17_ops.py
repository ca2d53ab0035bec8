"""Round-9 operator battery: SemDeDup, Gopher rules, hashed linear
quality, per-source KL, gram novelty, containment pairs. The staged
oracle gate (test_corpus_oracles / check_correctness --staged) covers
fixture-scale parity; these tests pin the semantics the fixture can't
reach — bullet/ellipsis/symbol rule branches, NULL handling, custom
model weights, hand-computed divergences, containment extremes."""

from __future__ import annotations

import math

import pytest

from datapipelineetl_spark.operators import corpus, dedup, similarity, text


def test_semdedup_within_cluster_only(spark):
    """Duplicates are dropped only when they share a cluster: two
    identical vectors in the same cluster → later id dropped; a vector
    cosine-identical to one in ANOTHER cluster survives (the fence is
    the method); NULL vectors keep NULL cluster and are kept."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),          # dup of 1, same cluster
        (3, [0.0, 1.0, 0.0, 0.0]),          # other cluster seed
        (4, [0.0, 0.999, 0.01, 0.0]),       # near-dup of 3 in its cluster
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           similarity.semdedup(df, k=2, iters=2, threshold=0.95).collect()}
    assert got[1].kept == 1 and got[2].kept == 0
    assert got[2].n_dups_earlier == 1
    assert got[3].kept == 1 and got[4].kept == 0
    assert got[1].cluster == got[2].cluster
    assert got[3].cluster == got[4].cluster != got[1].cluster
    assert got[5].cluster is None and got[5].kept == 1
    with pytest.raises(ValueError, match="threshold"):
        similarity.semdedup(df, threshold=1.5)


def test_semdedup_zero_vectors_defined(spark):
    """All-zero vectors normalize to the zero unit vector (never
    NULL/NaN): their dot with anything is 0.0, below any positive
    threshold — both stay kept with a real (non-NULL) cluster, and no
    NULL cosine silently skips the comparison (review finding: a bare
    x/0.0 was NULL in Spark but inf/NaN in DuckDB)."""
    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]),
        (3, [0.0, 0.0]), (4, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           similarity.semdedup(df, k=2, iters=1, threshold=0.5).collect()}
    assert got[3].cluster is not None and got[4].cluster is not None
    assert got[3].kept == 1 and got[4].kept == 1
    assert got[4].n_dups_earlier == 0


def test_semdedup_kernel_parity(spark, monkeypatch):
    """VERDICT r9 item 4: the scale side (the per-cluster applyInPandas
    pair stage, reached by setting the _exact_fit limit to 0) must
    return EXACTLY the exact side's output — same clusters, same
    n_dups_earlier, same keeps — on the edge battery (exact dups,
    near-dups straddling the threshold, zero vectors, NULL vector) and
    on the sf0.001 embeddings fixture."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.01, 0.0]),
        (5, None),
        (6, [0.0, 0.0, 0.0, 0.0]),
        (7, [0.70710678, 0.70710678, 0.0, 0.0]),
        (8, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    cases = [(df, {"k": 2, "iters": 2, "threshold": 0.95}),
             (df, {"k": 3, "iters": 1, "threshold": 0.5}),
             (emb, {"k": 16, "iters": 1, "threshold": 0.45,
                    "materialize": True})]

    def run():
        return [sorted(map(tuple, similarity.semdedup(frame, **kw).collect()))
                for frame, kw in cases]

    want = run()
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    assert run() == want
    assert len(want[2]) == emb.count()
    with pytest.raises(TypeError):
        similarity.semdedup(df, pair_stage="kernel")


def test_semdedup_kernel_blocking_and_nan(spark, monkeypatch):
    """The kernel's row-block loop must agree with itself at block=1
    (every boundary exercised), and a corrupt vector (NULL element →
    NaN) is never flagged and never counts as anyone's earlier dup."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows.append((40, [1.0, None, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    rows.append((41, rows[0][1]))  # exact dup of id 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)  # the kernel side
    base = {r.vec_id: (r.cluster, r.n_dups_earlier, r.kept) for r in
            similarity.semdedup(df, k=1, iters=1, threshold=0.99).collect()}
    assert base[41] == (base[0][0], 1, 0)  # the exact dup, one earlier
    assert base[40][1] == 0 and base[40][2] == 1  # corrupt: kept, no dups
    # block=1 forces a block boundary between every row pair
    from datapipelineetl_spark.operators.similarity import _semdedup_pairs_kernel
    from pyspark.sql import functions as F

    norm_col = similarity.norm(F.col("embedding").cast("array<double>"))
    v = (
        df.withColumn("__n", norm_col)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.when(F.col("__n") > 0, x / F.col("__n"))
                .when(F.col("__n") == 0, F.lit(0.0)),
            ).alias("__u"),
            F.lit(0).alias("cluster"),
        )
        .filter(F.col("__u").isNotNull())
    )
    full = sorted(map(tuple, _semdedup_pairs_kernel(v, "vec_id", 0.99, 4).collect()))
    tiny = sorted(map(tuple, _semdedup_pairs_kernel(v, "vec_id", 0.99, 4, block=1).collect()))
    assert full == tiny and full  # non-empty: the exact dup pair


def test_semdedup_kernel_half_up_rounding(spark):
    """ADVICE r10: the kernel must round cosines HALF_UP (away from
    zero, Spark F.round semantics), not numpy banker's rounding.
    dot([1,0],[1/32,y]) = 0.03125 exactly (1/32 is an exact binary
    float); ×10⁴ = 312.5, a true half-way point: banker's gives
    0.0312 (< 0.0313, pair missed) while HALF_UP gives 0.0313 — the
    value Spark's own F.round produces, which the join form uses."""
    from pyspark.sql import functions as F

    from datapipelineetl_spark.operators.similarity import _semdedup_pairs_kernel

    # pin the join-form side of the parity claim: F.round is HALF_UP
    spark_rounded = spark.range(1).select(
        F.round(F.lit(0.03125), 4).alias("r")).collect()[0].r
    assert spark_rounded == 0.0313

    rows = [(1, [1.0, 0.0]), (2, [0.03125, 0.9995119]), (3, [-1.0, 0.0])]
    v = spark.createDataFrame(rows, "vec_id long, __u array<double>") \
        .withColumn("cluster", F.lit(0))
    got = {r.vec_id: r.n_dups_earlier for r in
           _semdedup_pairs_kernel(v, "vec_id", 0.0313, 4).collect()}
    # id 2 vs id 1: cos rounds HALF_UP to 0.0313 >= 0.0313 -> flagged;
    # id 3 vs id 1: cos -1.0 (negative branch exercised, not flagged)
    assert got == {2: 1}


def test_gopher_rules_each_branch(spark):
    """Each Gopher flag flips on its own synthetic trigger: the flags
    the parquet fixture never exercises (bullets, ellipsis lines,
    symbol ratio) included; NULL text is a kept=0 zero-word row, not a
    crash; integer decision boundaries are exact (10 symbols in 100
    words = ratio 0.1 passes, 11 fails)."""
    good = "the quick brown fox and the lazy dog " * 8  # 72 words, has the+and
    docs = [
        (1, good),
        (2, None),
        (3, "# " * 5 + good),                      # 5 hashes vs ~77 words: passes
        (4, ("# " * 30) + good),                   # 30 symbols vs 102 words: fails
        (5, "\n".join(["- bullet line"] * 10)),     # all lines bulleted
        (6, "\n".join(["trails off..."] * 10)),     # all lines ellipsis-ended
        (7, "a " * 60),                            # mean word length 1 < 3
        (8, "1 2 3 4 5 " * 12),                    # no alphabetic words
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r for r in
           text.gopher_rules(df, stopwords=("the", "and")).collect()}
    assert got[1].kept == 1
    assert got[2].n_words == 0 and got[2].kept == 0 and got[2].r_word_count == 0
    assert got[3].r_symbol_ratio == 1
    assert got[4].r_symbol_ratio == 0 and got[4].kept == 0
    assert got[5].r_bullet_lines == 0
    assert got[6].r_ellipsis_lines == 0
    assert got[7].r_mean_word_len == 0
    assert got[8].r_alpha_words == 0 and got[8].r_stopwords == 0
    with pytest.raises(ValueError, match="stopwords"):
        text.gopher_rules(df, stopwords=())


def test_gopher_rules_crlf_lines(spark):
    """CRLF-terminated lines (crawled Windows-lineage text) leave a
    trailing \\r after the \\n split; the 3-char trim must still see
    the ellipsis/bullet endings (review finding: plain trim strips
    only spaces, so ellipsis-spam passed the rule)."""
    df = spark.createDataFrame(
        [(1, "trails off...\r\ntrails off...\r\ntrails off...\r"),
         (2, "- bullet\r\n- bullet\r\n- bullet\r")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in
           text.gopher_rules(df, stopwords=("the",)).collect()}
    assert got[1].r_ellipsis_lines == 0
    assert got[2].r_bullet_lines == 0


def test_gopher_symbol_boundary_exact(spark):
    """10·n_symbols <= n_words at the boundary: exactly ratio 0.1
    passes, one more symbol fails — integer arithmetic, no float
    wobble."""
    words100 = "word " * 100
    df = spark.createDataFrame(
        [(1, words100 + "#" * 10), (2, words100 + "#" * 11)],
        ["doc_id", "text"],
    )
    # '#'*10 glued to the last word: token count stays 100
    got = {r.doc_id: r.r_symbol_ratio for r in
           text.gopher_rules(df, stopwords=("word",)).collect()}
    assert got == {1: 1, 2: 0}


def test_quality_linear_custom_weights_and_reference(spark):
    """The element_at (trained-model) path scores exactly the pure-
    Python computation; out-of-range weights and buckets fail loudly;
    NULL/empty text yields NULL prob with n_tokens 0."""
    import hashlib

    def h60(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)

    weights = {b: (7 * b) % 1001 - 500 for b in range(64)}
    rows = [(1, "alpha beta gamma"), (2, "alpha alpha"), (3, None), (4, " ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_tokens, r.quality_prob) for r in
           text.quality_linear(df, n_buckets=64, weights_milli=weights,
                               bias_milli=100).collect()}

    def ref(txt):
        toks = [w for w in txt.lower().split() if w]
        s = sum(weights[h60(t) % 64] for t in toks) + 100
        return round(1.0 / (1.0 + math.exp(-(s / (1000.0 * len(toks))))), 5)

    assert got[1] == (3, ref("alpha beta gamma"))
    assert got[2] == (2, ref("alpha alpha"))
    assert got[3] == (0, None) and got[4] == (0, None)
    with pytest.raises(ValueError, match="milli-units"):
        text.quality_linear(df, n_buckets=64, weights_milli={0: 2000})
    with pytest.raises(ValueError, match="milli-units"):
        text.quality_linear(df, n_buckets=64, weights_milli={99: 1})
    with pytest.raises(ValueError, match="n_buckets"):
        text.quality_linear(df, n_buckets=0)


def test_source_kl_zero_and_hand_computed(spark):
    """A source distributed exactly like the corpus has KL 0; a skewed
    two-source example matches the hand-computed divergence."""
    same = [(f"s{i}", "a a b") for i in range(4)]
    df = spark.createDataFrame(same, ["source", "text"])
    got = {r.source: r.kl_divergence for r in text.source_kl(df).collect()}
    assert all(v == 0.0 for v in got.values())

    # corpus: x has {a:2}, y has {a:1, b:1} → totals a:3, b:1, T=4
    df2 = spark.createDataFrame([("x", "a a"), ("y", "a b")],
                                ["source", "text"])
    got2 = {r.source: (r.n_tokens, r.kl_divergence)
            for r in text.source_kl(df2).collect()}
    kl_x = math.log((2 / 2) / (3 / 4))                      # all mass on a
    kl_y = 0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
    assert got2["x"] == (2, round(kl_x, 6))
    assert got2["y"] == (2, round(kl_y, 6))


def test_gram_novelty_extremes(spark):
    """A doc cloned verbatim has novelty 0 (every gram shared); a
    unique doc novelty 1; a doc shorter than n still yields its single
    short gram; all rows survive."""
    eight = "one two three four five six seven eight"
    rows = [(1, eight), (2, eight), (3, "alpha beta gamma delta epsilon zeta eta theta"), (4, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in dedup.gram_novelty(df, n=8).collect()}
    assert got[1].novelty == 0.0 and got[2].novelty == 0.0
    assert got[3].novelty == 1.0
    assert got[4].n_grams == 1 and got[4].novelty == 1.0
    assert len(got) == 4


def test_empty_docs_share_no_grams(spark):
    """Zero-token documents (empty/whitespace/NULL text) must NOT pair
    with each other through the phantom empty shingle (review finding:
    they all reported containment 1.0 and novelty 0.0): novelty gives
    them zero grams and NULL novelty per its contract, containment
    emits no pairs among them."""
    rows = [(1, ""), (2, ""), (3, "   \t"), (4, None),
            (5, "real content words here eight total for gram")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    nov = {r.doc_id: r for r in dedup.gram_novelty(df, n=8).collect()}
    for i in (1, 2, 3, 4):
        assert nov[i].n_grams == 0 and nov[i].novelty is None, nov[i]
    assert nov[5].n_grams >= 1
    pairs = dedup.containment_pairs(df, threshold=0.0, n=8).collect()
    assert pairs == []


def test_containment_pairs_asymmetry(spark):
    """A short doc embedded verbatim in a long one: containment_a = 1.0
    while Jaccard-style symmetric overlap is small; the threshold
    filter keeps the pair on EITHER direction; max_bucket_size drops
    boilerplate grams."""
    short = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    long_ = short + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 x16"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different content here now ok fine yes")],
        ["doc_id", "text"],
    )
    got = {(r.id_a, r.id_b): r for r in
           dedup.containment_pairs(df, threshold=0.9, n=8).collect()}
    assert (1, 2) in got and len(got) == 1
    pair = got[(1, 2)]
    assert pair.containment_a == 1.0 and pair.containment_b < 0.2

    # boilerplate cap: with every shared gram capped away, no pairs
    none = dedup.containment_pairs(df, threshold=0.0, n=8,
                                   max_bucket_size=1).collect()
    assert none == []
    with pytest.raises(ValueError, match="threshold"):
        dedup.containment_pairs(df, threshold=-0.1)


def test_flag_blocklisted_join_matches_hof_on_fixture(spark):
    """Crossover-scale sanity on real fixture text: both blocklist
    forms agree doc-for-doc at sf0.001 with a mixed hit/miss list."""
    from datapipelineetl_spark import catalog

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    terms = ["the", "spark", "zz-not-present"]
    a = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
         corpus.flag_blocklisted(docs, terms).collect()}
    b = {r.doc_id: (r.n_blocked_tokens, r.kept) for r in
         corpus.flag_blocklisted_join(docs, terms).collect()}
    assert a == b and len(a) == 500


def test_streaming_quality_annotate_parity(spark, tmp_path):
    """The quality battery is streaming-composable: gopher_rules +
    quality_linear with annotate=True apply DIRECTLY to a readStream
    frame (stateless narrow projections — no foreachBatch, no state
    store), and the drained annotations equal the batch run on the
    same files row for row. This is the ingest-time quality tier: a
    sink can filter on `kept` / threshold `quality_prob` with every
    source column still present."""
    from pyspark.sql import functions as F

    pdir = str(tmp_path / "docs")
    rows = [
        (1, "the quick brown fox and the lazy dog " * 8, "web"),
        (2, "a " * 60, "web"),
        (3, None, "books"),
        (4, "1 2 3 4 5 " * 12, "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    df.coalesce(1).write.parquet(pdir)

    def annotate(frame):
        g = text.gopher_rules(frame, stopwords=("the", "and"), annotate=True)
        return text.quality_linear(g, n_buckets=64, annotate=True)

    stream = spark.readStream.schema(df.schema).parquet(pdir)
    q = (
        annotate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qanno")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id: r.asDict() for r in spark.sql("SELECT * FROM qanno").collect()}
    want = {r.doc_id: r.asDict() for r in annotate(df).collect()}
    assert got == want
    # every source column survived, plus the annotations
    assert {"doc_id", "text", "source", "n_words", "kept",
            "quality_prob"} <= set(got[1])
    assert got[1]["kept"] == 1 and got[2]["kept"] == 0
    assert got[3]["quality_prob"] is None  # NULL text: scoreless, kept row


def test_assign_clusters_arrow_matches_fold(spark, monkeypatch):
    """The Arrow-matmul L2 assignment behind ivf_assign(metric='l2') and
    the scale side of kmeans matches the bit-exact kmeans assignment on
    the full embedding fixture — same argmin, same lower-id tiebreak
    discipline — with the centroid matrix in the UDF closure or in a
    broadcast variable, and returns a NULL cell for NULL vectors."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    k = 8
    seeds = [
        [round(float(x), 6) for x in r.v]
        for r in emb.filter("embedding IS NOT NULL")
        .orderBy("vec_id").limit(k)
        .selectExpr("CAST(embedding AS array<double>) AS v").collect()
    ]
    # iters=0: kmeans assigns against the rounded seed centroids with
    # the exact kernel — the reference semantics for the Arrow swap
    want = {r.vec_id: r.cluster
            for r in similarity.kmeans(emb, k=k, iters=0).collect()}

    def arrow_cells(frame, cents):
        return {r.vec_id: r.ivf_cell for r in similarity.ivf_assign(
            frame, cents, metric="l2").select("vec_id", "ivf_cell").collect()}

    got = arrow_cells(emb, seeds)
    assert got == want and len(got) == 500

    nulls = spark.createDataFrame(
        [(900, None), (901, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got_n = arrow_cells(nulls, [[1.0, 0.0], [0.0, 1.0]])
    assert got_n[900] is None and got_n[901] == 0
    with pytest.raises(ValueError, match="centroid matrix"):
        similarity.ivf_assign(nulls, [], metric="l2")

    # the broadcast transport is bit-identical to the closure one —
    # same matrix, same argmin; only the movement changes
    monkeypatch.setattr(similarity, "_BROADCAST_BYTES", 0)
    assert arrow_cells(emb, seeds) == want
    assert not hasattr(similarity, "assign_clusters_arrow")


def test_kmeans_arrow_assignment_matches_fold(spark, monkeypatch):
    """The scale side of kmeans (reached by setting the _exact_fit
    limit to 0) runs every assignment pass (each Lloyd iteration AND
    the final labeling) through the matmul kernel and the mean update
    through _mean_update_arrow, and must reproduce the exact side on
    the fixture — same trajectory, same final labels — with the
    centroids in the closure or broadcast; the removed knobs raise."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    want = {r.vec_id: r.cluster
            for r in similarity.kmeans(emb, k=8, iters=3).collect()}
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    for broadcast_bytes in (1 << 20, 0):
        monkeypatch.setattr(similarity, "_BROADCAST_BYTES", broadcast_bytes)
        got = {r.vec_id: r.cluster
               for r in similarity.kmeans(emb, k=8, iters=3).collect()}
        assert got == want
    for knob in ({"assignment": "arrow"}, {"transport": "broadcast"}):
        with pytest.raises(TypeError):
            similarity.kmeans(emb, k=2, **knob)


def test_semdedup_full_production_path_matches_oracle_path(spark, monkeypatch):
    """The scale side with a broadcast centroid matrix — matmul
    assignment, Arrow mean update, kernel pair stage — must match the
    all-exact oracle path on the fixture: the _exact_fit rule picks a
    physical plan, not a semantics."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    want = sorted(map(tuple, similarity.semdedup(
        emb, k=16, iters=2, threshold=0.45, materialize=True).collect()))
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    monkeypatch.setattr(similarity, "_BROADCAST_BYTES", 0)
    got = sorted(map(tuple, similarity.semdedup(
        emb, k=16, iters=2, threshold=0.45, materialize=True).collect()))
    assert got == want
    for knob in ({"assignment": "arrow"}, {"transport": "broadcast"}):
        with pytest.raises(TypeError):
            similarity.semdedup(emb, k=2, **knob)


def test_ivf_fit_update_arrow_matches_agg(spark, monkeypatch):
    """ivf_fit_centroids' scale-side update (_mean_update_arrow, reached
    by setting the _exact_fit limit to 0) — the wide-dim running-sum
    mean update that replaces the dim x F.avg aggregate (which OOMs
    the 1 GiB local JVM at dim=1024, SCALING.md r12) — reproduces the
    agg form's centroids on the fixture to float tolerance (partial
    sums add in batch order, so bit-equality is not the contract) and
    null vectors still take no part; the removed knob raises."""
    import numpy as np

    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, "/root/testdata/sf0.001", "embeddings")
    want = similarity.ivf_fit_centroids(emb, k_cells=8, iters=3)
    monkeypatch.setattr(similarity, "_EXACT_FIT_CELLS", 0)
    got = similarity.ivf_fit_centroids(emb, k_cells=8, iters=3)
    assert np.allclose(np.asarray(got), np.asarray(want), atol=1e-9)
    with pytest.raises(TypeError):
        similarity.ivf_fit_centroids(emb, k_cells=8, iters=1, update="arrow")


def test_exact_fit_rule_pins_the_fit_traffic():
    """Every registered oracle and benchmark fit takes the exact side,
    the k_sub=256 PQ fit of examples/ann_* the scale side, and so does
    a narrow-k but wide-dim fit; the five fits expose no kernel knob."""
    import inspect

    exact = [
        (4, 64),    # q_kmeans_clusters, q_cluster_balanced_sample
        (16, 64),   # q_semdedup, batch 19-21 PQ (k_sub=16), q_ivf_recall
        (16, 32),   # vector_topk PQ fit
        (8, 32),    # vector_topk IVF fit
        (16, 64), (32, 64),  # examples/ann_* IVF fits
    ]
    assert all(similarity._exact_fit(k, dim) for k, dim in exact)
    assert not similarity._exact_fit(256, 64)  # examples/ann_* PQ fit
    assert not similarity._exact_fit(4, 1024)  # the dim guard
    assert similarity._exact_fit(64, 64) and not similarity._exact_fit(65, 64)
    for fn in (similarity.kmeans, similarity.semdedup,
               similarity.ivf_fit_centroids, similarity.pq_fit,
               similarity.pq_encode):
        params = set(inspect.signature(fn).parameters)
        assert not params & {"assignment", "transport", "update",
                             "pair_stage", "mode"}, fn.__name__


def test_arrow_assign_broadcasts_over_one_mib(spark):
    """A centroid matrix over 1 MiB reaches executors as a broadcast
    variable (the handle comes back for unpersist) and assigns the same
    labels as the bit-exact kernel; a small one rides the closure."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    cents = rng.normal(size=(2100, 64)).tolist()  # 2100 × 64 × 8 B > 1 MiB
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(60, 64)))]
    rows.append((60, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec = F.col("embedding").cast("array<double>")
    udf, bc = similarity._arrow_assign_udf(spark, cents, return_handle=True)
    assert bc is not None
    got = df.select("vec_id", udf(vec).alias("c")).collect()
    exact = similarity._seq_l2_assign_udf(cents)
    want = df.select("vec_id", exact(vec).alias("c")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert dict(map(tuple, got))[60] is None
    bc.unpersist()
    assert similarity._arrow_assign_udf(spark, cents[:8], return_handle=True)[1] is None


def test_kmeans_driver_fit_errors_and_semdedup(spark, sf_dir, monkeypatch):
    """kmeans on the driver fit raises the Spark loop's error for too
    few vectors, and semdedup — whose k-means fit runs on the driver at
    fixture size — returns the Spark loop's rows."""
    from datapipelineetl_spark import catalog

    few = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    emb = catalog.load(spark, sf_dir, "embeddings")

    def dedup():
        return sorted(map(tuple, similarity.semdedup(
            emb, k=16, iters=2, threshold=0.45).collect()))

    got = dedup()
    for budget in (similarity._DRIVER_FIT_ROWS, 0):
        monkeypatch.setattr(similarity, "_DRIVER_FIT_ROWS", budget)
        with pytest.raises(ValueError, match="need >= 3 non-null vectors, got 2"):
            similarity.kmeans(few, k=3)
    assert got == dedup()
