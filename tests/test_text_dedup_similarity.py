"""Extension-operator tests: text analysis, dedup ladder, similarity search,
multimodal plumbing (SURVEY.md §2.11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import dedup, multimodal, similarity, text
from tests import jvm_reference

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "dog lazy the over jumps fox brown quick the"),   # same token set as 1
    (3, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1 (8/10)
    (4, "el rapido zorro marron salta sobre el perro"),
    (5, "completely different content about spark engines"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_token_stats(spark, docs_df):
    r = {x.doc_id: x for x in text.with_token_stats(docs_df).collect()}
    assert r[1].n_tokens == 9 and r[1].n_distinct_tokens == 8
    assert r[5].n_tokens == 6


def test_tokens_no_phantom_empty_on_edge_whitespace(spark):
    """Pinned regression (VERDICT r6 item 1, falsifying example '\\na a a'):
    F.trim strips only ASCII spaces, so trim-then-split grew a phantom
    leading empty token on \\n/\\t-edged text. tokens() now filters empties
    post-split; '\\na a a' must be exactly 3 tokens (and its 2-gram dup
    fraction 0.5, not 0.3333)."""
    from datapipelineetl_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "\na a a"), (2, "\ta b\t"), (3, "  x  "), (4, ""), (5, None)],
        "doc_id int, text string",
    )
    toks = {r.doc_id: r.t for r in df.select(
        "doc_id", text.tokens("text").alias("t")).collect()}
    assert toks[1] == ["a", "a", "a"]
    assert toks[2] == ["a", "b"]
    assert toks[3] == ["x"]
    assert toks[4] == []
    assert toks[5] is None
    rep = {r.doc_id: r.dup_2gram_frac
           for r in corpus.repetition_stats(df, gram_ns=(2,)).collect()}
    assert rep[1] == 0.5


def test_lang_id(spark, docs_df):
    r = {x.doc_id: x.lang_pred for x in text.with_lang_id(docs_df).collect()}
    assert r[1] == "en" and r[4] == "es"
    assert r[5] == "und"  # no marker tokens at all → undetermined


def test_token_set_fingerprint_groups_order_invariant(spark, docs_df):
    fp = text.with_token_set_fingerprint(docs_df)
    groups = dedup.dedup_by_fingerprint(fp, "ts_fingerprint", ["doc_id"], "doc_id")
    rows = {r.doc_id: r.n_copies for r in groups.collect()}
    assert rows[1] == 2          # docs 1+2 collapse
    assert rows.get(3, 1) == 1   # near-dup but not identical set


def test_minhash_near_dups_finds_jaccard1_pair(spark, docs_df):
    out = dedup.near_dup_pairs(docs_df, threshold=0.7)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert pairs[(1, 2)] == 1.0
    # 1 vs 3 share 7 of 9 distinct tokens → jaccard 0.777… if LSH catches it
    for (a, b), j in pairs.items():
        assert j >= 0.7 and a < b


def test_minhash_lsh_prunes(spark, docs_df):
    sigs = dedup.minhash_signature(docs_df)
    cands = dedup.lsh_candidate_pairs(sigs, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (4, 5) not in pairs  # disjoint token sets must not collide


def test_minhash_bucket_cap_drops_hot_buckets(spark, docs_df):
    """max_bucket_size: a cap of 1 kills every bucket with ≥2 members, so
    no candidate pairs survive; uncapped finds them."""
    sigs = dedup.minhash_signature(docs_df)
    assert dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=1).count() == 0
    assert dedup.lsh_candidate_pairs(sigs, "doc_id").count() > 0


def _fused_annotations(spark, rows):
    """Run prepare_corpus's fused annotation stage (quality + lang +
    token-set fingerprint in one Arrow pass, filters off) and the three
    column-expression operators it stands in for on ``rows``; assert
    they agree column for column and return the fused rows by doc_id."""
    from datapipelineetl_spark.operators import corpus

    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = text.with_token_set_fingerprint(
        text.with_lang_id(text.with_quality_score(df)), out="__fp"
    )
    got = corpus._quality_lang_stage(df, "text", None, None)
    assert got.columns == want.columns
    got_rows = {r.doc_id: r.asDict() for r in got.collect()}
    assert got_rows == {r.doc_id: r.asDict() for r in want.collect()}
    assert len(got_rows) == len(rows)
    return df, got_rows


def test_quality_score_kernel_matches_jvm(spark):
    """The Arrow quality-scoring logic (now only in the fused annotation
    kernel; the standalone kernel measured slower and was dropped) must
    emit row-identical (n_chars_m, punct_ratio, stopword_ratio,
    alpha_ratio, quality_score) to the JVM expressions — including every
    filter boundary (punct exactly 0.2, stopword 0.01 and 0.6, alpha
    0.5, length 19/20), HALF-UP rounding cases (1/3 → 0.3333, 2/3 →
    0.6667), Java-regex-parity classes (underscore is \\w, emoji is
    punct, NBSP not \\s), and NULL/empty/whitespace text (NULL ratios
    but score 0.25)."""
    rows = [
        (1, None),
        (2, ""),
        (3, " \t\n "),
        (4, "the and of to is a b c d"),          # stopword 5/9 → 0.5556
        (5, "the " + "b " * 199),                  # stopword 1/200 = 0.005 < 0.01
        (6, "the " + ("b " * 99).strip()),         # stopword 1/100 = 0.01 boundary
        (7, "the the the of of xx"),               # stopword 5/6 → 0.8333 > 0.6
        (8, "the of and xy"),                      # stopword 3/4
        (9, "aaaa,,,, aaaa,,,, a.."),              # punct 10/20 > 0.2
        (10, "aaaaaaaaaaaaaaaa,,,."),              # punct 4/20 = 0.2 boundary
        (11, "aaaaaaaaaa__________"),              # underscore is \w → punct 0
        (12, "abcdefghij0123456789"),              # alpha 10/20 = 0.5 boundary
        (13, "abcdefghi 0123456789"),              # alpha 9/20 < 0.5
        (14, "shortdoc hey"),                      # length 12 < 20
        (15, "exactly nineteen ch"),               # length 19
        (16, "exactly twenty chars"),              # length 20
        (17, "😀😀😀 aaaaaaaaaaaaaaaa"),           # emoji = punct, astral length
        (18, "x\xa0 y the of and to is qq"),       # NBSP glues x to its token
        (19, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße the of"),
        (20, "of de la und le 的 the et die es"),  # multilingual marker soup
    ]
    df, got = _fused_annotations(spark, rows)
    cols = ["n_chars_m", "punct_ratio", "stopword_ratio", "alpha_ratio",
            "quality_score"]
    ann = {i: tuple(r[c] for c in cols) for i, r in got.items()}
    assert ann[1] == (None, None, None, None, 0.25)
    assert ann[10][1] == 0.2 and ann[12][3] == 0.5
    # the implementation switch is gone, not silently ignored
    with pytest.raises(TypeError):
        text.with_quality_score(df, impl="kernel")


def test_lang_id_kernel_matches_jvm(spark):
    """The Arrow language-ID logic (now only in the fused annotation
    kernel) must match the JVM greatest-of-structs voting — including
    declaration-order tie-breaks ('la' is both es and fr → es; equal
    de/en votes → en), zero-hit → 'und', and NULL/empty text → 'und'."""
    rows = [
        (1, None), (2, ""), (3, "xyzzy plugh"),
        (4, "the and of to is"),
        (5, "la"),                                  # es vs fr tie → es
        (6, "the der"),                             # en vs de tie → en
        (7, "der die und das ist"),
        (8, "le et les des la"),                    # fr 5 vs es 1
        (9, "的 是 了"),
        (10, "THE AND OF"),                         # case-folded markers
    ]
    df, got = _fused_annotations(spark, rows)
    lang = {i: r["lang_pred"] for i, r in got.items()}
    assert lang[5] == "es" and lang[6] == "en" and lang[8] == "fr"
    assert lang[1] == lang[2] == lang[3] == "und"
    with pytest.raises(TypeError):
        text.with_lang_id(df, impl="kernel")


def test_token_set_fingerprint_kernel_matches_jvm(spark):
    """The Arrow token-set-fingerprint logic (now only in the fused
    annotation kernel) must emit byte-identical md5 digests to the JVM
    sort/join/md5 chain — including the Python-sort-vs-array_sort
    byte-order equivalence on mixed-script tokens, repetition/word-order
    invariance, NULL → NULL and zero tokens → md5('')."""
    rows = [
        (1, None), (2, ""), (3, " \t "),
        (4, "b a c a b"), (5, "a b c"), (6, "c b a a a"),
        (7, "z ä 中 😀 Z _x 0 ! ' ~"),
        (8, "The QUICK the quick"),
    ]
    df, got = _fused_annotations(spark, rows)
    fp = {i: r["__fp"] for i, r in got.items()}
    assert fp[1] is None and fp[4] == fp[5] == fp[6]
    assert fp[2] == fp[3]  # both canonicalize to the empty join
    with pytest.raises(TypeError):
        text.with_token_set_fingerprint(df, impl="kernel")


def test_minhash_signature_kernel_matches_jvm(spark):
    """Round-16 optimization guard: the Arrow ``minhash_signature``
    kernel (str.lower + re.ASCII ``\\s+`` split + md5-60 + vectorized
    affine min) must emit row-identical signatures to the JVM
    transform/array_min reference (tests/jvm_reference.py) — including
    Java-vs-Python whitespace semantics (NBSP is NOT split), unicode
    case mapping (final sigma, İ, ẞ), NULL and empty text (both yield
    [NULL]×k, never a NULL array), and whitespace-only text."""
    rows = [
        (1, "The quick\tbrown FOX\njumps over the lazy dog"),
        (2, "a b c d e f g h"),  # NBSP glues tokens
        (3, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße"),
        (4, ""),
        (5, None),
        (6, "dup dup dup dup"),
        (7, "  \t \n \f\r "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for nh in (4, 16):
        jvm = {
            r.doc_id: r.minhash
            for r in jvm_reference.minhash_signature(df, num_hashes=nh).collect()
        }
        ker = {
            r.doc_id: r.minhash
            for r in dedup.minhash_signature(df, num_hashes=nh).collect()
        }
        assert jvm == ker, nh
        assert ker[4] == [None] * nh and ker[5] == [None] * nh
    with pytest.raises(TypeError):
        dedup.minhash_signature(df, impl="kernel")


def test_simhash_kernel_matches_jvm(spark):
    """Round-16 optimization guard: the Arrow SimHash kernel (distinct
    tokens, md5-60, one numpy bit-count reduction, majority vote) must
    emit row-identical signatures to the JVM aggregate/zip_with fold
    (tests/jvm_reference.py) —
    including NBSP (not a split), unicode case mapping, NULL and empty
    and whitespace-only text (all → signature 0), and single-token docs
    (every set bit of the hash wins its majority)."""
    rows = [
        (1, "The quick\tbrown FOX\njumps over the lazy dog"),
        (2, "a b c d e f g h"),  # NBSP glues tokens
        (3, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße"),
        (4, ""),
        (5, None),
        (6, "dup dup dup dup"),  # one distinct token
        (7, "  \t \n \f\r "),
        (8, "the and with for that this from are was not you all can had"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits in (8, 32):
        jvm = {
            r.doc_id: r.simhash
            for r in jvm_reference.with_simhash(df, bits=bits).collect()
        }
        ker = {
            r.doc_id: r.simhash
            for r in text.with_simhash(df, bits=bits).collect()
        }
        assert jvm == ker, bits
        assert ker[4] == 0 and ker[5] == 0 and ker[7] == 0
    with pytest.raises(TypeError):
        text.with_simhash(df, impl="kernel")


def test_simhash_hamming_close_for_near_dups(spark, docs_df):
    sh = {r.doc_id: r.simhash for r in text.with_simhash(docs_df).collect()}
    assert sh[1] == sh[2]  # identical token set → identical simhash
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham15 = bin(sh[1] ^ sh[5]).count("1")
    assert ham13 < ham15  # near-dup closer than unrelated doc
    assert all(0 <= v < (1 << 32) for v in sh.values())


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [-1.0, 0.0, 0.0]),
    (4, [0.7, 0.7, 0.0]),
]


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark, vec_df):
    out = similarity.cosine_topk(vec_df, [1.0, 0.0, 0.0], k=2, exclude_ids=(0,))
    rows = out.collect()
    assert [r.vec_id for r in rows] == [1, 4]
    assert rows[0].cos_sim == pytest.approx(0.9939, abs=1e-4)


def test_cosine_pairs_threshold(spark, vec_df):
    out = similarity.cosine_pairs(vec_df, 0.99)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 1)}


def test_cluster_pairs_connected_components(spark):
    """Pairs (1-2, 2-3) and (5-6) → two clusters labeled by min id;
    a chain forces >1 propagation round."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_cluster_pairs_string_ids(spark):
    """Labels need only be COMPARABLE, not numeric: string doc ids must
    cluster correctly (the old decimal-sum convergence probe threw under
    ANSI / silently mis-converged with ANSI off — r4 ADVICE)."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cluster_pairs_contract_matches_iterate(spark, monkeypatch):
    """The union-find contraction must emit row-identical (doc_id,
    cluster_id) labelings to iterative min-label propagation (the
    ``jvm_reference.cluster_pairs`` reference) — min-id labeling is a
    property of the graph, not the algorithm. The graph mixes a long
    chain (diameter >> 1, descending so the min id enters from one
    end), a star, a cycle, self-loops, duplicate/reversed edges, and
    isolated-by-pairing nodes; 16 input partitions + a fan-in of 2
    force a multi-level ladder so cross-partition components MUST merge
    through intermediate contraction levels to come out right. A NULL
    endpoint is never a node here, while the reference labels it."""
    chain = [(i + 1, i) for i in range(40)]            # 40..0 one component
    star = [(100, k) for k in range(101, 109)]
    cycle = [(200, 201), (201, 202), (202, 203), (203, 200)]
    extras = [(300, 300), (5, 5), (2, 1), (0, 1)]       # self-loops + dups
    pairs = spark.createDataFrame(
        chain + star + cycle + extras, ["id_a", "id_b"]
    ).repartition(16)
    want = {r.doc_id: r.cluster_id
            for r in jvm_reference.cluster_pairs(pairs).collect()}
    for fan in (2, 64):
        monkeypatch.setattr(dedup, "_FAN_IN", fan)
        got = {r.doc_id: r.cluster_id for r in dedup.cluster_pairs(pairs).collect()}
        assert got == want, fan
    assert want[40] == 0 and want[108] == 100 and want[203] == 200
    # string ids through the ladder too (comparable, not numeric), and
    # a half-NULL pair
    spairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "x"), (None, "q"), ("r", None)],
        "id_a string, id_b string",
    ).repartition(8)
    w2 = {r.doc_id: r.cluster_id
          for r in jvm_reference.cluster_pairs(spairs).collect()}
    monkeypatch.setattr(dedup, "_FAN_IN", 2)
    g2 = {r.doc_id: r.cluster_id for r in dedup.cluster_pairs(spairs).collect()}
    assert g2 == {k: v for k, v in w2.items() if k is not None}
    assert g2 == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "q": "q", "r": "r"}


def test_null_embeddings_survive_pandas_kernels(spark):
    """Null embedding rows must flow through every Arrow kernel as null
    outputs — not ValueError from np.stack (r4 ADVICE): signatures,
    IVF assignment, and the pair/fit entry points that feed the
    unfiltered column; the JVM cosine scores them NULL and cosine_topk
    never ranks them."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    base = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(base + [(98, None), (99, None)], schema)

    q = [1.0] * 8
    scores = {r.vec_id: r.cos_sim for r in df.select(
        "vec_id",
        similarity.cosine(F.col("embedding"), F.array(*[F.lit(x) for x in q])).alias("cos_sim"),
    ).collect()}
    assert scores[99] is None and scores[0] is not None
    ranked = {r.vec_id for r in similarity.cosine_topk(df, q, k=len(base) + 2).collect()}
    assert 0 in ranked and not ranked & {98, 99}

    cells = {r.vec_id: r.ivf_cell for r in similarity.ivf_assign(
        df, [[1.0] * 8, [-1.0] * 8]
    ).collect()}
    assert cells[98] is None and cells[0] in (0, 1)

    # pair search: null rows silently drop from candidates, no crash
    pairs = similarity.lsh_cosine_near_pairs(df, 0.5, num_planes=4, num_tables=2, dim=8)
    ids = {x for r in pairs.collect() for x in (r.id_a, r.id_b)}
    assert 98 not in ids and 99 not in ids

    # fit: null vectors take no part; centroids stay finite
    cents = similarity.ivf_fit_centroids(df, k_cells=2, iters=2)
    assert all(all(c == c for c in row) for row in cents)


def test_pandas_cosine_matches_jvm(spark, vec_df):
    """The cosine Column helper and cosine_topk's SQL fold agree: every
    vector's top-k score is its cosine rounded to 4 decimals."""
    from datapipelineetl_spark.operators import similarity as sim

    q = [1.0, 0.0, 1.0]
    jvm = {
        r.vec_id: r.cos_sim
        for r in vec_df.select(
            "vec_id",
            sim.cosine(
                F.col("embedding").cast("array<double>"),
                F.array(*[F.lit(x) for x in q]),
            ).alias("cos_sim"),
        ).collect()
    }
    topk = {
        r.vec_id: r.cos_sim
        for r in sim.cosine_topk(vec_df, q, k=len(VECS)).collect()
    }
    assert set(jvm) == set(topk)
    for k in jvm:
        assert abs(jvm[k] - topk[k]) <= 0.5e-4 + 1e-12


def test_ann_lsh_recall_against_brute_force(spark, sf_dir):
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    exact = [r.vec_id for r in similarity.cosine_topk(emb, qv, 10, exclude_ids=(0,)).collect()]
    approx = [r.vec_id for r in similarity.ann_lsh_topk(emb, qv, 10, num_planes=6).collect()]
    # multi-probe LSH with 6 planes on 64-dim data: expect decent recall
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"ANN recall collapsed: {recall} ({approx} vs {exact})"


def test_multimodal_fake_decode_plumbing(spark):
    rows = [(1, b"hello world", ("image", "png", 2, 2, None, None)),
            (2, None, ("audio", "wav", None, None, 1500, 16000))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(df, fake=True, n_features=4)
    got = {r.media_id: r for r in feats.collect()}
    assert got[1].n_bytes == 11 and len(got[1].features) == 4
    assert got[2].n_bytes == 0 and got[2].checksum is None
    import hashlib
    assert got[1].checksum == hashlib.md5(b"hello world").hexdigest()
    # Pin the rolling-hash feature values exactly: the registered query
    # (q_multimodal_features) hash-checks only the kernel's n_bytes/md5 —
    # this is where the non-SQL-expressible feature math is verified.
    assert got[1].features == pytest.approx(
        [0.000103999688000936, 0.10318269045192864, 0.16202451392645822, 0.70666887999336]
    )
    assert got[2].features == [0.0, 0.0, 0.0, 0.0]


def test_multimodal_real_decode_raises(spark):
    df = spark.createDataFrame(
        [(1, b"x", ("image", "png", 1, 1, None, None))], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|image/audio"):
        multimodal.extract_features(df, fake=False).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, b"", ("video", "mp4", None, None, 3500, None))], multimodal.MEDIA_SCHEMA
    )
    out = multimodal.frame_sample_plan(df, every_ms=1000)
    assert [r.frame_ts_ms for r in out.collect()] == [0, 1000, 2000, 3000]


def test_ann_multitable_lsh_high_recall(spark, sf_dir):
    """OR-amplification across independent tables lifts recall to ~1.0
    even on the near-uniform fixture (the hardest corpus for LSH)."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    exact = [r.vec_id for r in similarity.cosine_topk(emb, qv, 10, exclude_ids=(0,)).collect()]
    approx = [r.vec_id for r in similarity.ann_lsh_topk(
        emb, qv, 10, num_planes=8, num_tables=8, radius=2, exclude_ids=(0,)).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"multi-table ANN recall too low: {recall}"


def test_lsh_signature_pandas_matches_jvm(spark, sf_dir):
    """The Arrow/numpy batched signature path must make the SAME sign
    decisions as the JVM fold expression — same operator, two execution
    strategies (mirrors test_pandas_cosine_matches_jvm)."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings").limit(200)
    planes_t = [similarity._hyperplanes(4, 64, seed=42 + 1000003 * t) for t in range(3)]
    vec = F.col("embedding").cast("array<double>")
    jvm = {
        r.vec_id: [r[f"s{t}"] for t in range(3)]
        for r in emb.select(
            "vec_id",
            *[
                similarity.lsh_signature("embedding", planes).alias(f"s{t}")
                for t, planes in enumerate(planes_t)
            ],
        ).collect()
    }
    arrow = {
        r.vec_id: list(r.sigs)
        for r in emb.select(
            "vec_id", similarity._lsh_signatures_pandas(planes_t)(vec).alias("sigs")
        ).collect()
    }
    assert jvm == arrow


def test_ivf_deterministic_fit_and_assignment(spark, sf_dir):
    """The spherical-k-means fit is RNG-free: two fits on the same data
    yield identical centroids; every assignment is the argmax-dot cell
    (checked against numpy on the collected sample)."""
    import numpy as np

    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    c1 = similarity.ivf_fit_centroids(emb, k_cells=8, iters=3)
    c2 = similarity.ivf_fit_centroids(emb, k_cells=8, iters=3)
    assert c1 == c2
    rows = similarity.ivf_assign(emb.limit(100), c1).collect()
    c = np.asarray(c1, dtype=np.float64).T
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        assert r.ivf_cell == int((v @ c).argmax())


def test_ivf_topk_recall_and_pruning(spark, sf_dir):
    """IVF top-k must reach high recall vs brute force while touching
    only the probed cells' rows (genuine pruning, not a rescan)."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    probe = [(1.0 if i % 7 == 0 else 0.1) for i in range(dim)]
    exact = [r.vec_id for r in similarity.cosine_topk(emb, probe, k=10).collect()]
    # 8 cells / nprobe 5: recall 0.9 on the sf0.001 sample (near-uniform
    # vectors, the worst case — see q_ivf_recall for the tuning note)
    cents = similarity.ivf_fit_centroids(emb, k_cells=8, iters=5, dim=dim)
    got = [
        r.vec_id
        for r in similarity.ivf_topk(emb, probe, cents, k=10, nprobe=5).collect()
    ]
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.8, f"IVF recall too low: {recall}"
    # pruning: the probed subset is a strict minority of the corpus
    assigned = similarity.ivf_assign(emb, cents)
    import numpy as np

    order = np.argsort(
        -(np.asarray(cents) @ np.asarray(probe, dtype=np.float64)), kind="stable"
    )
    probed_n = assigned.filter(
        F.col("ivf_cell").isin([int(x) for x in order[:5]])
    ).count()
    assert probed_n < emb.count() * 0.8


def test_lsh_cosine_near_pairs_subset_and_recall(spark, sf_dir):
    """The LSH-bucketed near-pair path vs the exact baseline: candidates
    are verified with the exact cosine, so output must be a SUBSET of
    cosine_pairs at the same threshold; multi-table OR-amplification must
    keep recall high even on the near-uniform fixture."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b) for r in similarity.cosine_pairs(emb, 0.45).collect()}
    got = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_cosine_near_pairs(
            emb, 0.45, num_planes=4, num_tables=16, seed=42, dim=64
        ).collect()
    }
    assert got <= exact, f"LSH emitted non-near pairs: {got - exact}"
    assert exact, "fixture regression: no exact pairs at 0.45 to measure recall on"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"LSH near-pair recall too low: {recall}"


def _lsh_over_budget(monkeypatch, df, **kw):
    """lsh_cosine_near_pairs with its verify matrix over budget, so the
    JVM verify join answers."""
    from datapipelineetl_spark.operators import similarity as sim

    with monkeypatch.context() as mp:
        mp.setattr(sim, "_LSH_VERIFY_BYTES", 0)
        out = sim.lsh_cosine_near_pairs(df, **kw)
        assert "_cos(" not in out._jdf.queryExecution().optimizedPlan().toString()
        return [_nan_key(r) for r in out.collect()]


def test_lsh_verify_kernel_matches_jvm(spark, monkeypatch):
    """Round 17: the broadcast-matrix verify kernel must emit the SAME
    rows with the SAME rounded cosines as the JVM join it falls back to
    over budget (exact ==, no tolerance — the kernel replays
    dot()/norm()'s sequential IEEE add order), and the pre-round doubles
    of _lsh_verify_broadcast must be bit-identical to the JVM cosine on
    every candidate pair, including NULL vectors, NULL-element vectors
    and the zero-norm 0/0 → NaN case."""
    import math

    from datapipelineetl_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<double>"
    rows = [
        (i, [float((i * 13 + j * 7) % 11) / 3.0 - 1.5 for j in range(8)])
        for i in range(30)
    ]
    rows += [(91, None), (92, [1.0, None] + [0.5] * 6)]
    df = spark.createDataFrame(rows, schema)
    kw = dict(threshold=0.3, num_planes=2, num_tables=3, dim=8)
    jvm = sorted(_lsh_over_budget(monkeypatch, df, **kw))
    default = sim.lsh_cosine_near_pairs(df, **kw)
    assert "_cos(" in default._jdf.queryExecution().optimizedPlan().toString()
    ker = sorted(_nan_key(r) for r in default.collect())
    assert jvm == ker and len(ker) > 10
    # pre-round doubles, pair by pair (incl. pairs the threshold drops)
    vec = F.col("embedding").cast("array<double>")
    cand = spark.createDataFrame(
        [(a, b) for a in (0, 1, 5, 91, 92) for b in (2, 3, 91, 92) if a < b],
        "id_a long, id_b long",
    )
    kdoubles = {
        (r.id_a, r.id_b): r["__cos"]
        for r in sim._lsh_verify_broadcast(cand, df, "vec_id", vec, 8).collect()
    }
    v = df.select(F.col("vec_id"), vec.alias("__v"))
    jdoubles = {
        (r.id_a, r.id_b): r.c
        for r in cand.join(
            v.withColumnsRenamed({"vec_id": "id_a", "__v": "__va"}), "id_a"
        )
        .join(v.withColumnsRenamed({"vec_id": "id_b", "__v": "__vb"}), "id_b")
        .select(
            "id_a", "id_b", sim.cosine(F.col("__va"), F.col("__vb")).alias("c")
        )
        .collect()
    }
    assert set(kdoubles) == set(jdoubles)
    for k, jv in jdoubles.items():
        kv = kdoubles[k]
        if jv is None or (isinstance(jv, float) and math.isnan(jv)):
            # NULL-poisoned folds stay NULL in both impls
            assert kv is None or math.isnan(kv), (k, jv, kv)
        else:
            assert kv == jv, (k, jv, kv)  # bit-exact, not approx
    # zero-norm vectors: the ANSI-on JVM fold ERRORS on 0/0 (Spark 4
    # divide-by-zero, unchanged from the r16 per-pair cosine); the
    # kernel masks the pair to NULL, which fails the >= filter — so such
    # pairs never reach the output. Kernel-only check:
    zdf = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0] * 4), (3, [1.0] * 4)],
        schema,
    )
    zcand = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    zvec = F.col("embedding").cast("array<double>")
    got = {
        (r.id_a, r.id_b): r["__cos"]
        for r in sim._lsh_verify_broadcast(zcand, zdf, "vec_id", zvec, 4).collect()
    }
    assert got[(1, 2)] is None or math.isnan(got[(1, 2)])
    assert got[(2, 3)] == 1.0


def _nan_key(row):
    """A result row with NaN made comparable (NaN != NaN in Python)."""
    return tuple("nan" if isinstance(v, float) and v != v else v for v in row)


def test_lsh_verify_nan_vectors_match_jvm(spark, monkeypatch):
    """Vectors with NaN or inf elements: the JVM fold scores such a pair
    NaN, and Spark's NaN-greatest comparison passes it through the
    threshold — the kernel must emit the same rows (it used to turn the
    NaN into NULL and drop them)."""
    from datapipelineetl_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<double>"
    rows = [
        (i, [float((i * 13 + j * 7) % 11) / 3.0 - 1.5 for j in range(8)])
        for i in range(30)
    ]
    odd = [(93, [float("nan")] + [0.5] * 7), (94, [float("inf")] + [-0.25] * 7)]
    df = spark.createDataFrame(rows + odd, schema)
    kw = dict(threshold=0.3, num_planes=2, num_tables=3, dim=8)
    jvm = sorted(_lsh_over_budget(monkeypatch, df, **kw))
    ker = sorted(_nan_key(r) for r in sim.lsh_cosine_near_pairs(df, **kw).collect())
    assert jvm == ker
    assert any(93 in r[:2] and r[2] == "nan" for r in ker)
    assert any(94 in r[:2] and r[2] == "nan" for r in ker)


def test_lsh_verify_absent_ids_score_null(spark):
    """A candidate id the vector frame does not hold (below, inside or
    above its id range) scores NULL, so the threshold drops the pair as
    the JVM verify join does; present pairs keep their exact cosine.
    Integer ids take the searchsorted lookup, string ids the dict one."""
    import math

    from datapipelineetl_spark.operators import similarity as sim

    vecs = [(i, [float(i % 5) - 2.0, float(i % 3) + 0.5, 1.0]) for i in (2, 4, 6, 8)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    vec = F.col("embedding").cast("array<double>")
    pairs = [(2, 4), (4, 8), (-5, 2), (2, 5), (6, 7), (8, 999), (1, 3)]
    cand = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r["__cos"]
        for r in sim._lsh_verify_broadcast(cand, df, "vec_id", vec, 3).collect()
    }
    v = df.select(F.col("vec_id"), vec.alias("__v"))
    jvm = {
        (r.id_a, r.id_b): r.c
        for r in cand.join(v.withColumnsRenamed({"vec_id": "id_a", "__v": "__va"}), "id_a")
        .join(v.withColumnsRenamed({"vec_id": "id_b", "__v": "__vb"}), "id_b")
        .select("id_a", "id_b", sim.cosine(F.col("__va"), F.col("__vb")).alias("c"))
        .collect()
    }
    assert set(jvm) == {(2, 4), (4, 8)}
    for k in pairs:
        assert got[k] == jvm[k] if k in jvm else got[k] is None, (k, got[k])
    sdf = spark.createDataFrame(
        [(f"d{i}", v) for i, v in vecs], "vec_id string, embedding array<double>"
    )
    scand = spark.createDataFrame([("d2", "d4"), ("d2", "zz")], "id_a string, id_b string")
    sgot = {
        (r.id_a, r.id_b): r["__cos"]
        for r in sim._lsh_verify_broadcast(scand, sdf, "vec_id", vec, 3).collect()
    }
    assert math.isclose(sgot[("d2", "d4")], jvm[(2, 4)], rel_tol=0, abs_tol=0)
    assert sgot[("d2", "zz")] is None


def test_lsh_verify_repeated_ids_take_the_join(spark, monkeypatch):
    """A repeated vector id sends the verify to the JVM join, which
    scores every row of that id (the matrix would keep one): the
    default rows equal the over-budget rows, and the repeated id's two
    vectors both reach the output."""
    from datapipelineetl_spark.operators import similarity as sim

    rows = [(i, [float((i * 13 + j * 7) % 11) / 3.0 - 1.5 for j in range(8)])
            for i in range(30)]
    rows += [(3, [v + 0.01 for v in rows[3][1]]), (None, rows[4][1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec = F.col("embedding").cast("array<double>")
    cand = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    assert sim._lsh_verify_broadcast(cand, df, "vec_id", vec, 8) is None
    kw = dict(threshold=0.3, num_planes=2, num_tables=3, dim=8)
    got = sorted(_nan_key(r) for r in sim.lsh_cosine_near_pairs(df, **kw).collect())
    assert got == sorted(_lsh_over_budget(monkeypatch, df, **kw))
    twice = [r for r in got if 3 in r[:2]]
    assert len(twice) > len({r[:2] for r in twice})
    assert all(None not in r[:2] for r in got)


def test_fingerprint_collision_pairs_and_bucket_cap(spark):
    """Docs sharing a winnowing fingerprint pair up; a fingerprint shared
    by more docs than the cap is dropped (boilerplate mitigation)."""
    base = "the quick brown fox jumps over the lazy dog"
    boiler = "common header boilerplate line shared by everyone here"
    rows = [
        (1, base + " " + boiler),
        (2, "PREFIX padding here " + base + " " + boiler),
        (3, "completely different content about spark plans " + boiler),
        (4, "another unrelated doc on lsh bucketing designs " + boiler),
        (5, "zzz qqq vvv"),  # shares nothing
    ]
    df = text.with_winnowing_fingerprints(
        spark.createDataFrame(rows, ["doc_id", "text"]), k=5, window=4
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.fingerprint_collision_pairs(df, "doc_id", "winnow_fps").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1  # copied substring collides
    assert pairs[(1, 2)] == max(pairs.values())  # most shared evidence
    assert all(5 not in p for p in pairs)  # disjoint doc never pairs
    # fingerprints selected in all four boilerplate-carrying docs are
    # dropped by cap=3: every pair loses those, so its shared count
    # strictly shrinks (selection is context-dependent, so pairs can
    # still collide on fingerprints private to fewer docs)
    capped = {
        (r.id_a, r.id_b): r.n_shared
        for r in dedup.fingerprint_collision_pairs(
            df, "doc_id", "winnow_fps", max_bucket_size=3
        ).collect()
    }
    assert (1, 2) in capped  # the genuine near-dup pair survives the cap
    assert all(capped[p] < pairs[p] for p in capped)
    # cap=1 drops every shared fingerprint by definition → no pairs
    assert (
        dedup.fingerprint_collision_pairs(
            df, "doc_id", "winnow_fps", max_bucket_size=1
        ).count()
        == 0
    )


def test_lsh_band_geometry_validated(spark, docs_df):
    """bands×rows_per_band beyond the signature length must raise — a
    silent short slice would bucket every doc together (quadratic blowup)."""
    import pytest

    sigs = dedup.minhash_signature(docs_df, num_hashes=16)
    with pytest.raises(ValueError, match="exceeds signature length"):
        dedup.lsh_candidate_pairs(sigs, "doc_id", bands=8, rows_per_band=4)
    with pytest.raises(ValueError, match="exceeds signature length"):
        dedup.lsh_candidate_pairs(sigs, "doc_id", bands=8, rows_per_band=4, sig_len=16)


def test_winnowing_fingerprints(spark):
    """Winnowing (SIGMOD'03): shared-substring guarantee, short-doc and
    empty-doc conventions, and order/selection determinism."""
    k, w = 5, 4
    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base),
        (2, "PREFIX padding here " + base),  # contains base as substring
        (3, "tiny"),                          # shorter than k → empty set
        (4, ""),                              # empty → empty set
        (5, "exact"),                         # exactly k chars → 1 gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: list(r.winnow_fps)
        for r in text.with_winnowing_fingerprints(df, k=k, window=w).collect()
    }
    # guarantee: any match of length >= w+k-1 shares >= 1 fingerprint;
    # doc 2 contains ALL of doc 1, so overlap must be substantial
    assert set(out[1]) & set(out[2]), "copied substring shares no fingerprint"
    assert out[3] == [] and out[4] == []
    assert len(out[5]) == 1  # single k-gram → its hash is the fingerprint
    # deterministic: sorted distinct longs
    assert out[1] == sorted(set(out[1]))


def test_winnowing_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="k and window"):
        text.with_winnowing_fingerprints(df, k=0)
    with pytest.raises(TypeError):
        text.with_winnowing_fingerprints(df, impl="kernel")


def test_winnowing_kernel_matches_jvm(spark):
    """Round-16 optimization guard: the Arrow winnowing kernel
    (str.lower + code-point slicing + md5-60 + sliding-window min +
    np.unique) must emit row-identical fingerprint arrays to the JVM
    transform/array_min(slice) reference (tests/jvm_reference.py) —
    including unicode case mapping that CHANGES the string length ('İ'.lower() is two code points, so
    gram positions and count shift identically on both sides), NBSP
    inside grams, final sigma, NULL/empty/shorter-than-k text (all →
    empty array), exactly-k text (one gram), and fewer-grams-than-window
    (the single global min)."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, base),
        (2, "PREFIX padding " + base + " SUFFIX"),
        (3, "Ångström STRASSE ẞ İstanbul ΣΟΦΟΣ maße"),  # İ expands on lower()
        (4, "a b c d e f g h"),  # NBSP lives inside k-grams
        (5, ""),
        (6, None),
        (7, "tiny"),       # shorter than k=5
        (8, "exact"),      # exactly k chars → 1 gram
        (9, "sevench"),    # 3 grams < window=4 → single global min
        (10, "aaaaaaaaaaaa"),  # all grams identical → dedup to one
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in ((5, 4), (3, 2), (7, 10)):
        jvm = {
            r.doc_id: list(r.winnow_fps)
            for r in jvm_reference.with_winnowing_fingerprints(df, k=k, window=w).collect()
        }
        ker = {
            r.doc_id: list(r.winnow_fps)
            for r in text.with_winnowing_fingerprints(df, k=k, window=w).collect()
        }
        assert jvm == ker, (k, w)
    assert ker[5] == [] and ker[6] == [] and ker[7] == []


def test_decode_headers_parses_real_media_bytes(spark):
    """The header-decode kernel runs against REAL bytes: an actual WAV
    produced by the stdlib wave module (RIFF chunk walk must recover
    rate/channels/depth/duration), a hand-built PPM and BMP, and
    corrupt/None payloads degrading to valid=False rows — no stub, no
    external libraries."""
    import io
    import struct
    import wave

    from datapipelineetl_spark.operators import multimodal

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)        # 16-bit
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 2 * 4000)  # 4000 frames = 500 ms
    wav = buf.getvalue()
    ppm = b"P6\n# a comment\n640 480\n255\n" + b"\x00" * 16
    # well-formed BITMAPINFOHEADER: DIB size 40 at offset 14, int32 dims
    bmp = b"BM" + b"\x00" * 12 + struct.pack("<Iii", 40, 320, -200) + b"\x00" * 8
    rows = [(1, wav), (2, ppm), (3, bmp), (4, b"garbage bytes here"), (5, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.asDict() for r in multimodal.decode_headers(df).collect()}

    assert got[1]["detected_format"] == "wav" and got[1]["valid"]
    assert got[1]["sample_rate"] == 8000 and got[1]["n_channels"] == 2
    assert got[1]["bit_depth"] == 16 and got[1]["duration_ms"] == 500
    assert got[2]["detected_format"] == "ppm" and (got[2]["width"], got[2]["height"]) == (640, 480)
    assert got[3]["detected_format"] == "bmp" and (got[3]["width"], got[3]["height"]) == (320, 200)
    assert not got[4]["valid"] and not got[5]["valid"]
    assert len(got) == 5  # corrupt rows are data, not dropped


def test_decode_headers_edge_variants(spark):
    """Header-decode robustness: OS/2 BITMAPCOREHEADER dims parse from
    their 16-bit offsets (not garbage from INFOHEADER offsets), a
    truncated fmt chunk yields valid=False rather than neighboring-chunk
    bytes as audio params, and a non-long id column flows through."""
    import struct

    from datapipelineetl_spark.operators import multimodal

    core_bmp = b"BM" + b"\x00" * 12 + struct.pack("<IHH", 12, 100, 50) + b"\x00" * 8
    bad_wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x02\x00"   # truncated fmt
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    rows = [("a", core_bmp), ("b", bad_wav)]
    df = spark.createDataFrame(rows, "uri string, payload binary")
    got = {r.uri: r.asDict() for r in multimodal.decode_headers(df, id_col="uri").collect()}
    assert got["a"]["detected_format"] == "bmp"
    assert (got["a"]["width"], got["a"]["height"]) == (100, 50)
    assert not got["b"]["valid"]  # truncated fmt chunk is corrupt, not data


def test_decode_headers_png_gif_jpeg(spark):
    """The codec-container slice widened round 6: a REAL zlib-built PNG
    (correct CRCs), a GIF89a screen descriptor, and a JPEG marker walk
    that must skip APP0/DQT segments to find SOF0 — all stdlib bytes,
    all executed; a JPEG with no SOF frame stays valid=False."""
    import struct
    import zlib

    from datapipelineetl_spark.operators import multimodal

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 17, 11, 8, 0, 0, 0, 0)  # 17x11 gray 8-bit
    raw = zlib.compress(b"".join(b"\x00" + b"\x7f" * 17 for _ in range(11)))
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw) + chunk(b"IEND", b"")
    )
    gif = b"GIF89a" + struct.pack("<HH", 33, 21) + b"\x00\x00\x00;"
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
        + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x10" * 64
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 99, 77)
        + b"\x01\x01\x11\x00"
        + b"\xff\xd9"
    )
    sofless = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00" + b"\xff\xd9"
    rows = [(1, png), (2, gif), (3, jpeg), (4, sofless)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.asDict() for r in multimodal.decode_headers(df).collect()}
    assert got[1]["detected_format"] == "png" and got[1]["valid"]
    assert (got[1]["width"], got[1]["height"], got[1]["bit_depth"]) == (17, 11, 8)
    assert got[2]["detected_format"] == "gif"
    assert (got[2]["width"], got[2]["height"]) == (33, 21)
    assert got[3]["detected_format"] == "jpeg" and got[3]["valid"]
    assert (got[3]["width"], got[3]["height"], got[3]["bit_depth"]) == (77, 99, 8)
    assert not got[4]["valid"]  # marker walk found no frame header


def test_extract_keywords_top_k_deterministic(spark):
    """Per-doc top-k TF-IDF keywords: corpus-common terms rank below
    doc-distinctive ones; rank ordering is deterministic (rounded score
    desc, then token)."""
    from datapipelineetl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "common common zebra zebra zebra"),
         (2, "common common yak yak"),
         (3, "common xylophone")],
        ["doc_id", "text"],
    )
    out = t.extract_keywords(df, k=2)
    rows = {(r.doc_id, r.keyword_rank): r.keyword for r in out.collect()}
    # 'common' appears in every doc → idf = ln(1) = 0 → never beats a
    # distinctive term
    assert rows[(1, 1)] == "zebra"
    assert rows[(2, 1)] == "yak"
    assert rows[(3, 1)] == "xylophone"
    # df=3 term scores 0 but still ranks (k=2 with only 2 terms per doc)
    assert rows[(1, 2)] == "common"
    assert out.filter(F.col("keyword_rank") > 2).count() == 0


def test_decode_headers_jpeg_stops_at_eoi(spark):
    """Review fix: bytes after a JPEG EOI marker must not be parsed as a
    frame header — a truncated SOI+EOI followed by SOF-shaped garbage is
    corrupt, not a valid image."""
    import struct

    from datapipelineetl_spark.operators import multimodal

    garbage_after_eoi = (
        b"\xff\xd8\xff\xd9"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 123, 45) + b"\x01\x01\x11\x00"
    )
    df = spark.createDataFrame(
        [(1, garbage_after_eoi)], "media_id long, payload binary"
    )
    got = multimodal.decode_headers(df).collect()[0]
    assert not got.valid and got.detected_format is None


def test_build_vocab_and_encode_tokens_round_trip(spark):
    """Vocabulary build + token-id encoding: dense deterministic ids
    (specials first, count desc, token tiebreak), order-preserving
    encoding with OOV→<unk>, empty/NULL docs → empty arrays, min_count
    and max_size pruning."""
    from datapipelineetl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ran"), (3, ""), (4, None)],
        "doc_id int, text string",
    )
    v = t.build_vocab(df)
    by_id = {r.token_id: (r.token, r["count"]) for r in v.collect()}
    assert by_id[0] == ("<pad>", 0) and by_id[1] == ("<unk>", 0)
    assert by_id[2] == ("the", 3)          # most frequent real token
    assert by_id[3][0] == "cat"            # count-1 tie → alphabetical
    enc = {r.doc_id: r.input_ids for r in t.encode_tokens(df, v).collect()}
    assert enc[1][0] == 2 and enc[1][4] == 2  # both 'the' positions
    assert len(enc[1]) == 6 and len(enc[2]) == 3
    assert enc[3] == [] and enc[4] == []    # no silent drops
    # OOV → <unk>
    oov = spark.createDataFrame([(9, "the wombat")], "doc_id int, text string")
    assert t.encode_tokens(oov, v).collect()[0].input_ids == [2, 1]
    # pruning: min_count drops hapax; max_size caps including specials
    small = t.build_vocab(df, min_count=2)
    assert {r.token for r in small.collect()} == {"<pad>", "<unk>", "the"}
    capped = t.build_vocab(df, max_size=3)
    assert {r.token_id for r in capped.collect()} == {0, 1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unk"):
        t.encode_tokens(df, v.filter(v.token != "<unk>"))


def test_encode_tokens_local_matches_checkpoint(spark, monkeypatch):
    """A vocabulary over ``_VOCAB_ROWS`` is joined distributed from a
    localCheckpoint instead of the fetched local table, and encodes
    identically — same ids, same order — on NULL and empty texts, a
    NULL and a repeated doc id, OOV tokens and a vocab token listed
    twice; both paths raise for a vocab without <unk>."""
    from datapipelineetl_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog ran wombat"), (3, ""), (4, None),
         (None, "the cat"), (5, "dog dog"), (5, "the mat")],
        "doc_id int, text string",
    )
    v = t.build_vocab(df, min_count=2)  # prunes hapax → OOV hits <unk>
    twice = v.unionByName(
        v.filter(F.col("token") == "the").withColumn("token_id", F.lit(99).cast("long")))

    def encode(vocab, budget):
        with monkeypatch.context() as mp:
            mp.setattr(t, "_VOCAB_ROWS", budget)
            out = t.encode_tokens(df, vocab)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            return {r.doc_id: r.input_ids for r in out.collect()}, plan

    for vocab in (v, twice):
        loc, plan = encode(vocab, t._VOCAB_ROWS)
        chk, chk_plan = encode(vocab, 1)
        assert "LocalRelation" in plan and "LogicalRDD" in chk_plan
        assert loc == chk and loc[3] == [] and loc[4] == []
        assert 1 in loc[2]  # OOV tokens hit <unk>
        assert None in loc and len(loc[5]) == (4 if vocab is v else 5)
    assert loc[1].count(99) == 2  # 'the' fans out to both of its ids
    for budget in (t._VOCAB_ROWS, 1):
        with monkeypatch.context() as mp:
            mp.setattr(t, "_VOCAB_ROWS", budget)
            with pytest.raises(ValueError, match="unk"):
                t.encode_tokens(df, v.filter(F.col("token") != "<unk>"))


def test_normalize_text_pinned_examples(spark):
    """normalize_text: mojibake repair, NFC composition, CRLF fold,
    zero-width/control strip, NBSP -> space; NULL stays NULL; unlisted
    mojibake sequences pass through UNREPAIRED (no bare-prefix replace
    corrupting them)."""
    rows = [
        (1, "CafÃ© â€œquotedâ€\u009d â€” done"),
        (2, "a\r\nb\rc"),
        (3, "x\u200by\ufeffz\x07w"),       # zero-width / BOM / BEL
        (4, "e\u0301clair"),                # combining acute -> precomposed
        (5, "a\u00a0b"),                    # NBSP -> space
        (6, None),
        (7, "â€ž low quote stays â€¢"),  # NOT in the map: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.text for r in text.normalize_text(df).collect()}
    assert got[1] == "Caf\u00e9 \u201cquoted\u201d \u2014 done"
    assert got[2] == "a\nb\nc"
    assert got[3] == "xyzw"
    assert got[4] == "\u00e9clair"
    assert got[5] == "a b"
    assert got[6] is None
    assert got[7] == "â€ž low quote stays â€¢"
    # nfc=False skips the UDF: combining pair survives, rest still runs
    raw = {r.doc_id: r.text
           for r in text.normalize_text(df, nfc=False).collect()}
    assert raw[4] == "e\u0301clair"
    assert raw[2] == "a\nb\nc"


def test_read_media_dir_binary_file_source(spark, tmp_path):
    """sources.binary.read_media_dir: a directory of real media files
    lands as the opaque-binary media table via the binaryFile source —
    path-hash ids stable across re-ingest, glob pruning at the listing,
    and the chained REAL header decode recovering dimensions/rates."""
    import io
    import wave

    from datapipelineetl_spark.sources import binary

    media = tmp_path / "media" / "day=1"
    media.mkdir(parents=True)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 8000)  # 500 ms
    (media / "clip.wav").write_bytes(buf.getvalue())
    (media / "img.ppm").write_bytes(b"P6\n32 16\n255\n" + b"\x00" * 8)
    (media / "notes.txt").write_bytes(b"not media")

    df = binary.read_media_dir(spark, str(tmp_path / "media"))
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"clip.wav", "img.ppm", "notes.txt"}
    assert rows["img.ppm"].length == len(b"P6\n32 16\n255\n") + 8
    assert rows["clip.wav"].payload[:4] == b"RIFF"

    # ids derive from the path hash: re-ingesting gives identical ids
    again = {r.path: r.media_id for r in
             binary.read_media_dir(spark, str(tmp_path / "media")).collect()}
    assert again == {r.path: r.media_id for r in df.collect()}

    # glob prunes at the listing — the txt never enters the scan
    wavs = binary.read_media_dir(spark, str(tmp_path / "media"), glob="*.wav")
    assert [r.path.rsplit("/", 1)[-1] for r in wavs.collect()] == ["clip.wav"]

    # chained header decode: real dims/rates, txt degrades to valid=False
    meta = binary.read_media_dir(
        spark, str(tmp_path / "media"), with_header_meta=True
    )
    got = {r.path.rsplit("/", 1)[-1]: r for r in meta.collect()}
    assert got["clip.wav"].detected_format == "wav"
    assert got["clip.wav"].sample_rate == 16000
    assert got["clip.wav"].duration_ms == 500
    assert (got["img.ppm"].width, got["img.ppm"].height) == (32, 16)
    assert not got["notes.txt"].valid


def test_duplicate_spans_and_removal(spark):
    """Exact substring dedup (Lee et al. 2021 shape): an 8-token window
    repeated across (or within) documents is flagged everywhere except
    its corpus-wide first occurrence; removal cuts the union of flagged
    windows from the token stream, keeping everything else in order."""
    span = "a b c d e f g h"
    rows = [
        (1, span + " i j"),          # first occurrence of the span
        (2, "z y " + span),          # cross-doc repeat at offset 2
        (3, "p q r"),                # shorter than n: untouched
        (4, "m n o p q r s t m n o p q r s t"),  # within-doc repeat
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = {(r.doc_id, r.start)
             for r in dedup.duplicate_spans(df, n=8).collect()}
    assert (2, 2) in spans
    assert (4, 8) in spans
    assert not any(d == 1 for d, _ in spans)  # first occurrence unflagged
    assert not any(d == 3 for d, _ in spans)

    out = {r.doc_id: r.text
           for r in dedup.remove_duplicate_spans(df, n=8).collect()}
    assert out[1] == span + " i j"
    assert out[2] == "z y"
    assert out[3] == "p q r"
    assert out[4] == "m n o p q r s t"
    assert out[5] == ""  # NULL text normalizes to empty, never dropped
    with pytest.raises(ValueError, match="n must"):
        dedup.duplicate_spans(df, n=0)

    # every OTHER input column survives the rewrite (only text changes)
    with_meta = spark.createDataFrame(
        [(1, span + " i j", "web", "en"), (2, "z y " + span, "wiki", "fr")],
        "doc_id int, text string, source string, lang string",
    )
    kept = {r.doc_id: r for r in
            dedup.remove_duplicate_spans(with_meta, n=8).collect()}
    assert set(kept[1].asDict()) == {"doc_id", "text", "source", "lang"}
    assert (kept[2].source, kept[2].lang) == ("wiki", "fr")
    assert kept[2].text == "z y"


def test_read_media_chunks_reassembles_exactly(spark, tmp_path):
    """sources.binary.read_media_chunks: files split into byte-range
    chunk rows (metadata listing reads no content), reassembling to the
    original bytes; the binaryFile SOURCE omits zero-length files (a
    documented source-level behavior this pins)."""
    from datapipelineetl_spark.sources import binary

    media = tmp_path / "big"
    media.mkdir()
    blob = bytes(range(256)) * 10_000          # 2.56 MB, position-coded
    (media / "video.dat").write_bytes(blob)
    (media / "small.dat").write_bytes(b"tiny")
    (media / "empty.dat").write_bytes(b"")

    out = binary.read_media_chunks(spark, str(media), chunk_bytes=1_000_000)
    rows = sorted(
        out.collect(), key=lambda r: (r.path, r.chunk_idx)
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)

    vid = by_file["video.dat"]
    assert [r.chunk_idx for r in vid] == [0, 1, 2]
    assert [r.n_bytes for r in vid] == [1_000_000, 1_000_000, 560_000]
    assert [r.offset for r in vid] == [0, 1_000_000, 2_000_000]
    assert b"".join(bytes(r.payload) for r in vid) == blob
    assert len({r.media_id for r in vid}) == 1  # one id per file

    small = by_file["small.dat"]
    assert len(small) == 1 and bytes(small[0].payload) == b"tiny"

    # the binaryFile source drops zero-length files at the LISTING —
    # pinned so a Spark version changing this shows up here
    assert "empty.dat" not in by_file

    import pytest as _pytest

    with _pytest.raises(ValueError, match="chunk_bytes"):
        binary.read_media_chunks(spark, str(media), chunk_bytes=0)


def test_read_media_chunks_uri_decoded_names(spark, tmp_path):
    """Filenames with spaces arrive URI-encoded from binaryFile; the
    chunk kernel must percent-decode before open()."""
    from datapipelineetl_spark.sources import binary

    media = tmp_path / "odd names"
    media.mkdir()
    (media / "a file.dat").write_bytes(b"payload bytes")
    rows = binary.read_media_chunks(spark, str(media), chunk_bytes=5).collect()
    assert b"".join(
        bytes(r.payload) for r in sorted(rows, key=lambda r: r.chunk_idx)
    ) == b"payload bytes"


def test_read_media_chunks_custom_opener(spark, tmp_path):
    """The object-store hook: an injected ``opener(path) -> file-like``
    replaces the posix open for the byte reads (VERDICT r7 item 5 — a
    real 100 TB media corpus lives in object storage). The fake ranged
    reader serves DIFFERENT bytes than the listed file, so payloads
    matching the shadow content proves every read went through the
    hook, and seek/read offsets are exercised by the multi-chunk
    split."""
    from datapipelineetl_spark.sources import binary

    media = tmp_path / "store"
    media.mkdir()
    (media / "obj.dat").write_bytes(b"L" * 12)  # listed length: 12

    shadow = b"RANGED-BYTES"  # same length, different content
    assert len(shadow) == 12

    def fake_ranged_opener(path):
        import io

        assert path.rsplit("/", 1)[-1] == "obj.dat"
        return io.BytesIO(shadow)

    rows = binary.read_media_chunks(
        spark, str(media), chunk_bytes=5, opener=fake_ranged_opener
    ).collect()
    ordered = sorted(rows, key=lambda r: r.chunk_idx)
    assert [r.n_bytes for r in ordered] == [5, 5, 2]
    assert b"".join(bytes(r.payload) for r in ordered) == shadow


def test_unigram_logprob_exact_model(spark):
    """text.unigram_logprob: hand-computed add-alpha unigram model —
    in-vocab and OOV probabilities exact, separate lm_df honored,
    tokenless docs return with n_tokens 0 and NULL score."""
    import math

    lm = spark.createDataFrame(
        [(1, "a a b")], ["doc_id", "text"]
    )  # counts: a=2, b=1; total=3, V=2
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "zzz"), (3, "   "), (4, None)],
        "doc_id int, text string",
    )
    got = {r.doc_id: r for r in
           text.unigram_logprob(docs, lm_df=lm, alpha=0.5).collect()}
    denom = 3 + 0.5 * (2 + 1)
    p_a, p_b, p_oov = (2 + 0.5) / denom, (1 + 0.5) / denom, 0.5 / denom
    assert got[1].n_tokens == 2
    assert got[1].avg_logprob == round((math.log(p_a) + math.log(p_b)) / 2, 5)
    assert got[2].n_tokens == 1
    assert got[2].avg_logprob == round(math.log(p_oov), 5)
    for d in (3, 4):  # whitespace-only and NULL text: kept, unscored
        assert got[d].n_tokens == 0 and got[d].avg_logprob is None
    with pytest.raises(ValueError, match="alpha"):
        text.unigram_logprob(docs, alpha=0.0)


def test_calibrate_quality_per_group_percentiles(spark):
    """text.calibrate_quality: percentiles computed WITHIN each group
    (rank-1)/(n-1), id tiebreak, 1-doc group scores 0.0."""
    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    rows = [
        (1, good, "a"), (2, "!!! ??? !!!", "a"), (3, good + " again", "a"),
        (4, good, "b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r.doc_id: r.quality_pct
           for r in text.calibrate_quality(df).collect()}
    assert got[2] == 0.0          # worst in group a
    assert got[1] == 0.5          # tie with 3 on score -> id breaks: rank 2 of 3
    assert got[3] == 1.0
    assert got[4] == 0.0          # single-doc group


def test_vocab_growth_heaps_curve(spark):
    """text.vocab_growth: first-occurrence attribution and all three
    cumulative counters on a hand-checked corpus."""
    rows = [
        (0, "a b"), (1, "a c"),        # bucket 0: 4 tokens, vocab {a,b,c}
        (2, "c d d"),                  # bucket 1: 3 tokens, +{d}
        (5, "a"),                      # bucket 2: 1 token, +{}
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.bucket: r for r in text.vocab_growth(df, bucket_width=2).collect()}
    assert (got[0].docs_cum, got[0].tokens_cum, got[0].vocab_cum) == (2, 4, 3)
    assert (got[1].docs_cum, got[1].tokens_cum, got[1].vocab_cum) == (3, 7, 4)
    assert (got[2].docs_cum, got[2].tokens_cum, got[2].vocab_cum) == (4, 8, 4)
    assert got[1].bucket_start == 2
    with pytest.raises(ValueError, match="bucket_width"):
        text.vocab_growth(df, bucket_width=0)


def test_dsir_weights_prefer_target_like_docs(spark):
    """corpus.dsir_weights: docs sharing the target's n-gram profile
    weigh higher than off-profile docs; gramless docs return with NULL
    weight; weights are deterministic across runs."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    target_like = "alpha beta gamma delta alpha beta"
    rows = [
        (1, target_like), (2, "alpha beta gamma"), (3, "xxx yyy zzz www"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    target = df.filter("doc_id = 1")
    got = {r.doc_id: r for r in
           corpus_ops.dsir_weights(df, target, n_buckets=64).collect()}
    assert got[2].dsir_weight > got[3].dsir_weight  # on-profile beats off
    assert got[4].n_grams == 0 and got[4].dsir_weight is None
    again = {r.doc_id: r.dsir_weight for r in
             corpus_ops.dsir_weights(df, target, n_buckets=64).collect()}
    assert again == {d: r.dsir_weight for d, r in got.items()}
    with pytest.raises(ValueError, match="n_buckets"):
        corpus_ops.dsir_weights(df, target, n_buckets=0)


def test_kmeans_separates_blobs_deterministically(spark):
    """similarity.kmeans: two well-separated blobs land in two clusters,
    every input row returns (null vector -> null cluster), reruns are
    identical, and k > available vectors raises."""
    rows = (
        [(i, [10.0 + (i % 3) * 0.1, 10.0]) for i in range(6)]
        + [(i, [-10.0, -10.0 - (i % 2) * 0.1]) for i in range(6, 12)]
        + [(99, None)]
    )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {r.vec_id: r.cluster for r in
           similarity.kmeans(df, k=2, iters=3, id_col="vec_id").collect()}
    assert len({got[i] for i in range(6)}) == 1       # blob 1 coherent
    assert len({got[i] for i in range(6, 12)}) == 1   # blob 2 coherent
    assert got[0] != got[6]                           # blobs separated
    assert got[99] is None                            # null vec kept, unclustered
    again = {r.vec_id: r.cluster for r in
             similarity.kmeans(df, k=2, iters=3, id_col="vec_id").collect()}
    assert again == got
    with pytest.raises(ValueError, match="non-null vectors"):
        similarity.kmeans(df, k=50, iters=1)
    with pytest.raises(ValueError, match="k >= 1"):
        similarity.kmeans(df, k=0)


def test_perplexity_buckets_per_group_tiers(spark):
    """text.perplexity_buckets: head/middle/tail dealt by LM-score rank
    WITHIN each group; equal-count buckets; unscorable docs get NULL
    bucket but are never dropped; bucket 0 = least perplexing."""
    common = "the common words appear here again and again and again"
    rows = [
        (1, common + " " + common, "en"),       # most in-distribution
        (2, common, "en"),
        (3, "rare zyx qwv unusual tokens", "en"),  # most perplexing
        (4, common, "fr"),
        (5, "  ", "fr"),                          # unscorable
        (6, "zz yy", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r.doc_id: r for r in
           text.perplexity_buckets(df, group_col="lang", n_buckets=3).collect()}
    assert len(got) == 6  # nothing dropped
    assert got[3].ppl_bucket == 2          # tail of en
    assert got[1].ppl_bucket == 0          # head of en
    assert got[5].ppl_bucket is None       # unscorable
    en_buckets = [got[d].ppl_bucket for d in (1, 2, 3)]
    assert sorted(en_buckets) == [0, 1, 2]  # equal-count deal
    # fr has 2 scorable docs over 3 buckets: ranks 0,1 -> buckets 0,1
    assert {got[4].ppl_bucket, got[6].ppl_bucket} == {0, 1}
    with pytest.raises(ValueError, match="n_buckets"):
        text.perplexity_buckets(df, n_buckets=0)


def test_perplexity_thresholds_replay_rank_buckets(spark):
    """perplexity_thresholds + bucket_by_thresholds (the fixed-cutoff
    CCNet production pair): applied back to the calibration frame with
    distinct boundary scores it reproduces the rank buckets exactly;
    unscorable docs and groups the calibration never saw get NULL
    buckets, never dropped rows; n_buckets < 2 raises."""
    common = "the common words appear here again and again and again"
    rows = [
        # scores must be DISTINCT at bucket boundaries: identical
        # scores there are the documented rank-vs-threshold divergence
        # (rank splits ties by id, a fixed cutoff cannot)
        (1, common + " " + common, "en"),
        (2, common + " unusual", "en"),
        (3, "rare zyx qwv unusual tokens", "en"),
        (4, common, "fr"),
        (5, "  ", "fr"),
        (6, "zz yy", "fr"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    thr = text.perplexity_thresholds(df, group_col="lang", n_buckets=3)
    thr_rows = {r.lang: r.ppl_thresholds for r in thr.collect()}
    assert set(thr_rows) == {"en", "fr"}
    assert len(thr_rows["en"]) == 2  # 3 buckets -> 2 cutoffs
    assert thr_rows["en"] == sorted(thr_rows["en"], reverse=True)

    scored = text.unigram_logprob(df).join(
        df.select("doc_id", "lang"), "doc_id"
    )
    via_thr = {r.doc_id: r.ppl_bucket for r in
               text.bucket_by_thresholds(scored, thr, group_col="lang").collect()}
    via_rank = {r.doc_id: r.ppl_bucket for r in
                text.perplexity_buckets(df, group_col="lang", n_buckets=3).collect()}
    assert via_thr == via_rank

    # a group the calibration never saw -> NULL bucket, row survives
    new_rows = spark.createDataFrame(
        [(7, common, "de"), (8, None, "en")], ["doc_id", "text", "lang"]
    )
    new_scored = text.unigram_logprob(new_rows, lm_df=df).join(
        new_rows.select("doc_id", "lang"), "doc_id"
    )
    got = {r.doc_id: r.ppl_bucket for r in
           text.bucket_by_thresholds(new_scored, thr, group_col="lang").collect()}
    assert got == {7: None, 8: None}

    # global (group_col=None) calibration: 1-row threshold frame
    gthr = text.perplexity_thresholds(df, group_col=None, n_buckets=2)
    assert gthr.count() == 1
    gl = {r.doc_id: r.ppl_bucket for r in
          text.bucket_by_thresholds(
              text.unigram_logprob(df), gthr, group_col=None).collect()}
    assert set(gl.values()) <= {0, 1, None} and gl[5] is None
    with pytest.raises(ValueError, match="n_buckets >= 2"):
        text.perplexity_thresholds(df, n_buckets=1)


def test_bucket_by_thresholds_null_group(spark):
    """ADVICE r10: the group join is null-safe — a threshold row
    calibrated from a NULL-group partition (perplexity_thresholds
    groups NULL like any key) must match NULL-group docs, so the
    fixed-cutoff path buckets the same population the rank path
    ranks. Named groups must still match only themselves."""
    common = "the common words appear here again and again and again"
    rows = [
        (1, common + " " + common, None),
        (2, common + " unusual", None),
        (3, "rare zyx qwv tokens", None),
        (4, common, "en"),
        (5, common + " weird", "en"),
        (6, "qq ww ee", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    thr = text.perplexity_thresholds(df, group_col="lang", n_buckets=3)
    assert {r.lang for r in thr.collect()} == {None, "en"}
    scored = text.unigram_logprob(df).join(df.select("doc_id", "lang"), "doc_id")
    via_thr = {r.doc_id: r.ppl_bucket for r in
               text.bucket_by_thresholds(scored, thr, group_col="lang").collect()}
    via_rank = {r.doc_id: r.ppl_bucket for r in
                text.perplexity_buckets(df, group_col="lang",
                                        n_buckets=3).collect()}
    assert via_thr == via_rank
    assert None not in via_thr.values()  # every doc calibrated, incl. NULL-group


def _ref_bpe(texts, n_merges):
    """Pure-Python reference BPE (Sennrich-style): same tokenization
    (lower + whitespace), same </w> marker, same (count desc, pair
    lexicographic) tiebreak, same left-to-right merge application."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            words[w] += 1
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, c in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


@pytest.mark.parametrize("impl", ["kernel", "iterate"])
@pytest.mark.parametrize("corpus", [
    ["low low low low low", "lower lower", "newest newest newest",
     "widest widest", "new new"],
    ["aaaa aaa aa a", "ab ab ab abab"],              # overlap resolution
    ["répété répété déjà", "naïve café café café"],  # non-ascii chars
    ["x"],                                            # single char + </w>
])
def test_train_bpe_matches_python_reference(spark, monkeypatch, corpus, impl):
    """Distributed BPE == the sequential reference, merge for merge and
    symbol for symbol (the tiebreak, the </w> handling, and the
    left-to-right overlap rule all pinned) — for BOTH physical forms
    (the single-pass kernel trainer and, with its word budget forced to
    0, the per-merge job loop must be indistinguishable in values)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               ["doc_id", "text"])
    if impl == "iterate":
        monkeypatch.setattr(text, "_BPE_WORDS", 0)
    merges, words = text.train_bpe(df, n_merges=8)
    ref_merges, ref_syms = _ref_bpe(corpus, 8)
    assert merges == ref_merges
    got_syms = {r.word: list(r.syms) for r in words.collect()}
    assert got_syms == ref_syms


def test_train_bpe_kernel_matches_iterate(spark, monkeypatch):
    """A word table over ``_BPE_WORDS`` makes the kernel emit its
    over-budget marker and the driver run the per-merge loop; the full
    output (merge table AND final word state) equals the kernel's on a
    corpus exercising astral chars, marker-only words, NULL and empty
    texts, repeated words, min_pair_count stops, and n_merges=0."""
    corpus = ["😀a 😀a 😀a b", "aa aa ab", "ééé ß ß ß", None, "", "aa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               "doc_id int, text string")

    def train(nm, mpc, budget):
        with monkeypatch.context() as mp:
            mp.setattr(text, "_BPE_WORDS", budget)
            merges, words = text.train_bpe(df, n_merges=nm, min_pair_count=mpc)
        plan = words._jdf.queryExecution().optimizedPlan().toString()
        return merges, {r.word: (r["count"], list(r.syms)) for r in words.collect()}, plan

    for nm, mpc in [(0, 1), (3, 1), (6, 2), (12, 4)]:
        mk, gk, kplan = train(nm, mpc, text._BPE_WORDS)
        mi, gi, iplan = train(nm, mpc, 2)  # 7 distinct words
        assert "kind" in kplan and "kind" not in iplan
        assert mk == mi, (nm, mpc)
        assert gk == gi, (nm, mpc)
    assert gk["aa"][0] == 3 and "" not in gk


def test_bpe_segment_applies_merges_in_order(spark):
    """bpe_segment: inference replays the trained merges in order; the
    piece stream per doc equals the reference segmentation; an empty
    merge table yields pure character+</w> streams."""
    corpus = ["low low low lower lowest", "low lowest"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               ["doc_id", "text"])
    merges, _ = text.train_bpe(df, n_merges=6)
    ref_merges, ref_syms = _ref_bpe(corpus, 6)
    assert merges == ref_merges
    got = {r.doc_id: list(r.pieces)
           for r in text.bpe_segment(df, merges).collect()}
    for i, t in enumerate(corpus):
        expect = [p for w in t.lower().split() for p in ref_syms[w]]
        assert got[i] == expect, (i, got[i], expect)
    # zero merges: chars + </w>
    raw = {r.doc_id: list(r.pieces)
           for r in text.bpe_segment(df, []).collect()}
    assert raw[1] == list("low") + ["</w>"] + list("lowest") + ["</w>"]
    with pytest.raises(ValueError, match="n_merges"):
        text.train_bpe(df, n_merges=-1)


def test_bpe_segment_kernel_parity(spark):
    """bpe_segment's Arrow kernel == the chained-fold reference
    (tests/jvm_reference.py) piece-for-piece (the fold form pins the
    semantics): on the empty table, on a trained table over a real-ish
    corpus, on NULL/empty/whitespace-only texts, on a merge table with
    duplicate pairs, and — the case that separates the fold semantics
    from heap-style lowest-rank-anywhere inference — a later merge
    re-creating an earlier merge's pair string, which NEITHER form may
    go back and merge. Also exercises a multi-thousand-entry table,
    where the chained-fold plan would be impractical."""

    def segment(frame, table, op):
        return {r.doc_id: r.pieces and list(r.pieces)
                for r in op(frame, table).collect()}

    ref = jvm_reference.bpe_segment

    corpus = ["low low low lower lowest", "low lowest newer wider",
              "new newer newest wide wider widest"]
    rows = [(i, t) for i, t in enumerate(corpus)] + [
        (96, "low\u00a0lower low"),  # NBSP: Java \s does NOT split it —
        # the kernel must not either (re.ASCII pin)
        (97, None), (98, ""), (99, " \t\n ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges, _ = text.train_bpe(df, n_merges=10)
    for table in ([], merges):
        plan = text.bpe_segment(df, table)._jdf.queryExecution().optimizedPlan()
        assert "MapInPandas" in plan.toString()
    assert segment(df, [], text.bpe_segment) == segment(df, [], ref)
    want = segment(df, merges, ref)
    got = segment(df, merges, text.bpe_segment)
    assert got == want
    assert got[97] is None and got[98] == [] and got[99] == []

    # heap-divergence pin: table [("a","bc"), ("b","c")] on "abc" —
    # merge 0 finds no "bc" symbol yet, merge 1 creates it, and nobody
    # revisits merge 0: pieces are [a, bc, </w>], NOT [abc</w>-ish]
    tricky = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    path_merges = [("a", "bc", 9), ("b", "c", 9)]
    want_t = segment(tricky, path_merges, ref)[1]
    got_t = segment(tricky, path_merges, text.bpe_segment)[1]
    assert got_t == want_t == ["a", "bc", "</w>"]

    # duplicate pair entries in the table: both forms apply the pass
    # twice without crashing, and agree
    dup = [("a", "a", 9), ("aa", "a", 9), ("a", "a", 9)]
    docs = spark.createDataFrame(
        [(i, "a" * n) for i, n in enumerate((1, 2, 3, 4, 5, 6, 7))],
        ["doc_id", "text"])
    want_d = segment(docs, dup, ref)
    got_d = segment(docs, dup, text.bpe_segment)
    assert got_d == want_d

    # table-size headroom: 5000 synthetic merges (absent pairs beyond
    # the trained head) — the kernel's per-word cost is rank-dict
    # lookups, not 5000 chained passes; the fold form is NOT run here
    # (its plan would be the very bottleneck)
    big = list(merges) + [(f"zz{i}", f"qq{i}", 1) for i in range(5000)]
    big_df = text.bpe_segment(df, big)
    got_big = {r.doc_id: r.pieces and list(r.pieces) for r in big_df.collect()}
    assert got_big == got  # the synthetic tail can never match


def test_dsir_model_score_split_equals_combined(spark):
    """dsir_weights == dsir_score(df, dsir_model(df, target)) exactly —
    the split exists so the model is a persistable artifact: a model
    written to parquet and reloaded scores a DIFFERENT frame to the
    same values as the in-memory model; n_buckets mismatch guards."""
    from datapipelineetl_spark.operators import corpus as corpus_ops

    rows = [
        (1, "alpha beta gamma delta alpha beta"),
        (2, "alpha beta gamma"), (3, "xxx yyy zzz www"), (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    target = df.filter("doc_id = 1")
    combined = {tuple(r) for r in
                corpus_ops.dsir_weights(df, target, n_buckets=64).collect()}
    model = corpus_ops.dsir_model(df, target, n_buckets=64)
    split = {tuple(r) for r in
             corpus_ops.dsir_score(df, model, n_buckets=64).collect()}
    assert split == combined

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        model.write.parquet(d + "/m")
        reloaded = spark.read.parquet(d + "/m")
        new = spark.createDataFrame(
            [(10, "alpha beta fresh"), (11, "qqq rrr")],
            "doc_id int, text string")
        a = {tuple(r) for r in
             corpus_ops.dsir_score(new, reloaded, n_buckets=64).collect()}
        b = {tuple(r) for r in
             corpus_ops.dsir_score(new, model, n_buckets=64).collect()}
        assert a == b and len(a) == 2

    with pytest.raises(ValueError, match="n_buckets"):
        corpus_ops.dsir_score(df, model, n_buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        corpus_ops.dsir_score(df, model, alpha=0)


def test_resize_media_real_ppm_pixels(spark):
    """resize_media's P6 path is REAL: a 4x2 image downsizes to 2x1 by
    the floor((i+0.5)*src/dst) pixel-center rule — expected pixels
    computed by hand; the output re-parses through decode_headers to
    the target dimensions (round-trip through the real header walk);
    NULL and non-image payloads come back resized=false, not as task
    failures."""
    # 4x2 P6, rows: (R0 G0 B0)(R1..)(R2..)(R3..) with value = 10*x + y
    px = bytes(
        v for y in range(2) for x in range(4) for v in (10 * x + y,) * 3
    )
    ppm = b"P6\n4 2\n255\n" + px
    df = spark.createDataFrame(
        [(1, ppm), (2, None), (3, b"\x00garbage")],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: r
        for r in multimodal.resize_media(df, width=2, height=1).collect()
    }
    assert got[1].resized and got[1].src_format == "ppm"
    # pixel-center map: ys=[1], xs=[1,3] → values 11 and 31
    assert bytes(got[1].payload) == b"P6\n2 1\n255\n" + bytes(
        v for val in (11, 31) for v in (val,) * 3
    )
    hdr = {
        r.media_id: r
        for r in multimodal.decode_headers(
            spark.createDataFrame(
                [(1, bytes(got[1].payload))], "media_id long, payload binary"
            )
        ).collect()
    }
    assert (hdr[1].detected_format, hdr[1].width, hdr[1].height) == ("ppm", 2, 1)
    assert not got[2].resized and got[2].payload is None
    assert not got[3].resized and got[3].src_format is None
    # upscale uses the same rule (no interpolation — nearest neighbor)
    up = multimodal.resize_media(df.filter("media_id = 1"), 8, 2).collect()[0]
    assert (up.width, up.height, up.resized) == (8, 2, True)


def test_resize_media_custom_id_col(spark):
    """ADVICE r13 item 5: the output schema derives the id field's name
    AND type from the input frame (the decode_headers discipline) — a
    string id_col used to be silently renamed to media_id and its type
    hardcoded to long, breaking the Arrow conversion."""
    px = bytes(v for y in range(2) for x in range(4) for v in (10 * x + y,) * 3)
    ppm = b"P6\n4 2\n255\n" + px
    df = spark.createDataFrame(
        [("doc-a", ppm), ("doc-b", None)], "uri string, payload binary"
    )
    out = multimodal.resize_media(df, 2, 1, id_col="uri")
    assert out.columns[0] == "uri"
    assert dict(out.dtypes)["uri"] == "string"
    got = {r.uri: r for r in out.collect()}
    assert got["doc-a"].resized and bytes(got["doc-a"].payload).startswith(b"P6")
    assert not got["doc-b"].resized


def test_resize_media_codec_gate_and_fake(spark):
    """Codec formats outside the REAL envelope go through the library
    gate: NotImplementedError without fake=True; with it, a
    deterministic synthetic P6 of the target dims exercises the
    plumbing. Round 15: PNG pixels are real, so the PNG gate cases are
    the ENVELOPE edges — a truncated stream (header only, no IDAT) and
    the spec-invalid 16-bit palette combination (plain 16-bit moved
    in-envelope in round 16)."""
    import struct

    trunc_png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 5, 4) + bytes([8, 6, 0, 0, 0]) + b"\x00" * 4
    )
    df = spark.createDataFrame([(7, trunc_png)], "media_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        multimodal.resize_media(df, 2, 2).collect()
    got = multimodal.resize_media(df, 2, 2, fake=True).collect()[0]
    assert got.resized and got.src_format == "png"
    assert bytes(got.payload)[:10] == b"P6\n2 2\n255"
    again = multimodal.resize_media(df, 2, 2, fake=True).collect()[0]
    assert bytes(again.payload) == bytes(got.payload)  # deterministic
    with pytest.raises(ValueError, match="dims"):
        multimodal.resize_media(df, 0, 2)


def _encode_png(px_rows, color_type, row_filters, bit_depth=8, plte=None):
    """Minimal stdlib PNG ENCODER for the decoder tests: applies the
    requested forward filter per scanline (the exact inverse of
    `_png_pixels`' unfilter), deflates, and writes valid CRCs —
    so the decoder is exercised against spec-correct streams."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpd = channels * (bit_depth // 8)  # filter distance in BYTES
    h = len(px_rows)
    w = len(px_rows[0]) // bpd

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = [0] * (w * bpd)
    for row, f in zip(px_rows, row_filters):
        raw.append(f)
        out = []
        for i, v in enumerate(row):
            left = row[i - bpd] if i >= bpd else 0
            up = prev[i]
            ul = prev[i - bpd] if i >= bpd else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            out.append((v - pred) & 0xFF)
        raw.extend(out)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    body = chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", bytes(plte))
    body += chunk(b"IDAT", zlib.compress(bytes(raw)))
    body += chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def test_png_pixels_stdlib_decode_all_filters_and_color_types():
    """Round 15 (VERDICT r14 optional depth): `_png_pixels` is a REAL
    stdlib decode — every scanline filter (None/Sub/Up/Average/Paeth)
    and every 8-bit color type decodes to the exact pixel matrix the
    encoder was given; out-of-envelope variants return None (→ the
    codec gate), they never mis-decode."""
    import numpy as np

    # 3x4 RGB with all five filters across rows (values exercise the
    # mod-256 wrap: deltas > 127 in both directions)
    rgb_rows = [
        [(37 * i + 11 * y) % 256 for i in range(9)] for y in range(4)
    ]
    for filters in ([0, 1, 2, 3], [4, 3, 2, 1], [4, 4, 4, 4], [1, 4, 3, 0]):
        png = _encode_png(rgb_rows, 2, filters)
        px = multimodal._png_pixels(png)
        assert px is not None and px.shape == (4, 3, 3), filters
        expect = np.array(rgb_rows, dtype=np.uint8).reshape(4, 3, 3)
        assert (px == expect).all(), filters
    # grayscale → replicated to RGB
    g_rows = [[10, 200, 30], [250, 5, 128]]
    px = multimodal._png_pixels(_encode_png(g_rows, 0, [2, 4]))
    assert px.shape == (2, 3, 3)
    assert (px[:, :, 0] == np.array(g_rows)).all()
    assert (px[:, :, 0] == px[:, :, 1]).all() and (px[:, :, 1] == px[:, :, 2]).all()
    # palette → expanded via PLTE
    plte = [255, 0, 0, 0, 255, 0, 0, 0, 255]  # red, green, blue
    p_rows = [[0, 1, 2], [2, 1, 0]]
    px = multimodal._png_pixels(_encode_png(p_rows, 3, [0, 1], plte=plte))
    assert (px[0, 0] == [255, 0, 0]).all() and (px[0, 2] == [0, 0, 255]).all()
    assert (px[1, 0] == [0, 0, 255]).all()
    # RGBA → alpha dropped; gray+alpha → gray replicated
    rgba_rows = [[1, 2, 3, 255, 4, 5, 6, 0]]
    px = multimodal._png_pixels(_encode_png(rgba_rows, 6, [0]))
    assert px.shape == (1, 2, 3) and (px[0, 0] == [1, 2, 3]).all()
    ga_rows = [[9, 255, 77, 0]]
    px = multimodal._png_pixels(_encode_png(ga_rows, 4, [0]))
    assert (px[0, 0] == [9, 9, 9]).all() and (px[0, 1] == [77, 77, 77]).all()
    # out-of-envelope → None, never a wrong decode (16-bit moved
    # IN-envelope in round 16 — see test_png_16bit_and_adam7; the
    # remaining depth gate is the spec-invalid 16-bit palette)
    assert multimodal._png_pixels(
        _encode_png([[0, 1], [2, 0]], 3, [0, 0], bit_depth=16, plte=plte)
    ) is None
    assert multimodal._png_pixels(b"\x89PNG\r\n\x1a\n") is None
    assert multimodal._png_pixels(None) is None
    # palette index past PLTE end → None (corrupt), not an IndexError
    assert (
        multimodal._png_pixels(_encode_png([[0, 7]], 3, [0], plte=plte)) is None
    )


def _encode_png_adam7(px, channels, color_type, bps=1, plte=None):
    """Adam7-interlaced PNG encoder (filter 0 on every pass scanline):
    ``px`` is an (h, w, channels*bps) byte array; passes follow the
    spec lattice — the exact layout `_png_pixels` de-interlaces."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[:2]
    raw = bytearray()
    for x0, y0, dx, dy in multimodal._ADAM7:
        sub = px[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            raw.append(0)
            raw.extend(np.asarray(row, dtype=np.uint8).tobytes())

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8 * bps, color_type, 0, 0, 1)
    body = chunk(b"IHDR", ihdr)
    if plte is not None:
        body += chunk(b"PLTE", bytes(plte))
    body += chunk(b"IDAT", zlib.compress(bytes(raw)))
    body += chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def test_png_16bit_and_adam7(spark):
    """Round 16 (closes VERDICT r15 Missing #3, PNG leg): 16-bit
    samples and Adam7 interlace move IN-envelope. 16-bit decodes to
    the high byte with filters running at the BYTE distance bpp=ch·2
    (a Sub-filtered 16-bit stream whose prediction distance were
    wrongly ch·1 would mis-decode — pinned); Adam7 de-interlaces to
    the exact pixel matrix for even, odd and degenerate dimensions;
    an interlaced PNG joins resize/image_stats byte-identically with
    its linear twin."""
    import numpy as np

    # 16-bit RGB 2x2, filters None+Sub: sample (hi,lo) pairs chosen so
    # the hi bytes form a known gradient and Sub runs at distance 6
    hi = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]],
        dtype=np.uint8,
    )
    lo = (hi * 3 + 7).astype(np.uint8)  # arbitrary low bytes
    byte_rows = []
    for y in range(2):
        row = []
        for x in range(2):
            for c in range(3):
                row += [int(hi[y, x, c]), int(lo[y, x, c])]
        byte_rows.append(row)
    png16 = _encode_png(byte_rows, 2, [0, 1], bit_depth=16)
    px = multimodal._png_pixels(png16)
    assert px is not None and px.shape == (2, 2, 3)
    assert (px == hi).all()
    # 16-bit grayscale with Up filter → replicated high bytes
    g_hi = [[5, 250], [130, 0]]
    g_rows = [
        [v for x in range(2) for v in (g_hi[y][x], 99)] for y in range(2)
    ]
    pxg = multimodal._png_pixels(_encode_png(g_rows, 0, [0, 2], bit_depth=16))
    assert (pxg[:, :, 0] == np.array(g_hi)).all()
    assert (pxg[:, :, 0] == pxg[:, :, 1]).all()
    # Adam7 8x8 RGB: all seven passes populated
    rgb8 = np.arange(8 * 8 * 3, dtype=np.uint32).reshape(8, 8, 3) % 256
    rgb8 = rgb8.astype(np.uint8)
    pxi = multimodal._png_pixels(_encode_png_adam7(rgb8, 3, 2))
    assert pxi is not None and (pxi == rgb8).all()
    # Adam7 odd dims (5x3: several passes partial, none decode wrong)
    rgb_odd = (np.arange(3 * 5 * 3, dtype=np.uint32) * 17 % 256).astype(
        np.uint8
    ).reshape(3, 5, 3)
    assert (multimodal._png_pixels(_encode_png_adam7(rgb_odd, 3, 2)) == rgb_odd).all()
    # Adam7 1x1 (only pass 1 non-empty)
    one = np.array([[[9, 8, 7]]], dtype=np.uint8)
    assert (multimodal._png_pixels(_encode_png_adam7(one, 3, 2)) == one).all()
    # interlaced joins resize + stats byte-identically with linear P6
    ppm = b"P6\n8 8\n255\n" + rgb8.tobytes()
    df = spark.createDataFrame(
        [(1, _encode_png_adam7(rgb8, 3, 2)), (2, ppm)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 3, 3).collect()}
    assert got[1].src_format == "png" and got[1].resized
    assert bytes(got[1].payload) == bytes(got[2].payload)
    st = {r.media_id: r for r in multimodal.image_stats(df).collect()}
    assert st[1].valid and st[2].valid
    assert (st[1].mean_r, st[1].min_g, st[1].max_b) == (
        st[2].mean_r, st[2].min_g, st[2].max_b
    )


def test_resize_media_real_png_pixels(spark):
    """The PNG resize leg is REAL and byte-consistent with the PPM leg:
    a PNG and a P6 encoding the SAME pixels resize to IDENTICAL output
    bytes through resize_media (same pixel-center rule, same P6
    emission), and the result round-trips through decode_headers. A
    16-bit PNG resizes for real via high-byte reduction (round 16)."""
    rows = [[(10 * x + y) % 256 for x in range(4) for _ in range(3)]
            for y in range(2)]
    png = _encode_png(rows, 2, [0, 2])
    ppm = b"P6\n4 2\n255\n" + bytes(v for row in rows for v in row)
    df = spark.createDataFrame(
        [(1, png), (2, ppm)], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 1).collect()}
    assert got[1].resized and got[1].src_format == "png"
    assert got[2].resized and got[2].src_format == "ppm"
    assert bytes(got[1].payload) == bytes(got[2].payload)
    hdr = multimodal.decode_headers(
        spark.createDataFrame(
            [(1, bytes(got[1].payload))], "media_id long, payload binary"
        )
    ).collect()[0]
    assert (hdr.detected_format, hdr.width, hdr.height) == ("ppm", 2, 1)
    # round 16: 16-bit PNG is IN-envelope — the same byte rows read as
    # 16-bit RGB are 2 px wide with high bytes [y,y,10+y | 20+y,20+y,30+y]
    deep = _encode_png(rows, 2, [0, 0], bit_depth=16)
    df16 = spark.createDataFrame([(3, deep)], "media_id long, payload binary")
    got16 = multimodal.resize_media(df16, 2, 1).collect()[0]
    assert got16.resized and got16.src_format == "png"
    assert bytes(got16.payload) == b"P6\n2 1\n255\n" + bytes([1, 1, 11, 21, 21, 31])


# The edge rule of the similarity module docstring on four rows: the
# NaN-element vector (id 2) is no cosine candidate, and L2 scores it NaN
# and ranks it last — in the single-query and the batched operator alike.
_EDGE_ROWS = [(1, [1.0, 0.0]), (2, [float("nan"), 1.0]), (3, [0.9, 0.1]), (4, [0.0, 1.0])]
_EDGE_WANT = {
    "l2": [(1, 0.0), (3, 0.02), (4, 2.0), (2, "nan")],
    "cos_sim": [(1, 1.0), (3, 0.9939), (4, 0.0)],
}


def _vector_frame(spark, rows):
    """(vec_id, embedding) rows built from SQL literals
    (``_sql_doubles``), every double bit for bit."""
    out = None
    for i, v in rows:
        row = spark.range(1).selectExpr(
            f"{i}L AS vec_id", f"{similarity._sql_doubles(v)} AS embedding"
        )
        out = row if out is None else out.unionByName(row)
    return out


def _assert_edge_rows_match(spark, single, multi, score):
    """``single(df, q)`` and ``multi(df, {9: q})`` over ``_EDGE_ROWS``
    return ``_EDGE_WANT[score]``, row for row, NaN included."""
    df = _vector_frame(spark, _EDGE_ROWS)
    q = [1.0, 0.0]
    want = _EDGE_WANT[score]
    assert [_nan_key(r) for r in single(df, q).collect()] == want, score
    order = F.col(score).asc() if score == "l2" else F.col(score).desc()
    got = multi(df, {9: q}).orderBy(order, "vec_id").collect()
    assert [_nan_key((r.vec_id, r[score])) for r in got] == want, score


def test_null_element_vector_ranks_last_in_every_l2_tier(spark):
    """A vector with a NULL element (id 5) scores NaN and ranks last in
    every L2 tier, beside the NaN-element vector (id 2): ``l2_topk``,
    ``ivf_topk(metric="l2")``, the ``pq_adc_topk`` re-rank on its
    carried and its join leg, and the batched ``l2_topk_multi`` and
    ``pq_adc_topk_multi`` re-rank. It is no cosine candidate."""
    df = (
        _vector_frame(spark, _EDGE_ROWS)
        .unionByName(spark.range(1).selectExpr(
            "5L AS vec_id", "array(CAST(NULL AS DOUBLE), 1D) AS embedding"))
        .withColumn("pq_code", F.array(F.lit(0)))
        .localCheckpoint(eager=True)
    )
    q, books = [1.0, 0.0], [[[0.0, 0.0], [1.0, 0.0]]]
    want = _EDGE_WANT["l2"] + [(5, "nan")]

    def ranked(rows):
        return [_nan_key((r.vec_id, r.l2)) for r in rows]

    assert ranked(similarity.l2_topk(df, q, 10).collect()) == want
    assert ranked(similarity.ivf_topk(
        df, q, [[1.0, 0.0]], k=10, nprobe=1, metric="l2").collect()) == want
    for vectors in (df, df.select("*")):
        assert ranked(similarity.pq_adc_topk(
            df, q, books, k=10, refine_n=10, vectors=vectors).collect()) == want
    assert ranked(similarity.l2_topk_multi(df, {9: q}).orderBy("l2", "vec_id")
                  .collect()) == want
    assert ranked(similarity.pq_adc_topk_multi(
        df, {9: q}, books, k=10, refine_n=10, vectors=df.select("*"))
        .orderBy("l2", "vec_id").collect()) == want
    assert 5 not in [r.vec_id for r in similarity.cosine_topk(df, q, 10).collect()]


def _with_edge_vectors(spark, emb, dim):
    """``emb`` plus a NaN-element and an all-zero vector (ids 10**9+1,
    10**9+2), which the batched and single-query tiers must rank alike."""
    return emb.unionByName(
        _vector_frame(
            spark, [(10**9 + 1, [float("nan")] + [1.0] * (dim - 1)), (10**9 + 2, [0.0] * dim)]
        ).withColumn("label", F.lit(None).cast("int"))
    )


def test_exact_topk_multi_modes_match_single(spark, sf_dir):
    """Round-14 batched EXACT serving: l2_topk_multi / cosine_topk_multi
    (one stacked-matmul mapInPandas pass) must reproduce per-query
    l2_topk / cosine_topk, including self-exclusion, NULL-vector
    filtering, the NaN-element and zero vectors, and the per-metric
    rounding/ordering contracts (l2 asc @ round_dp, cosine desc @ 4dp,
    ties to the lower id)."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    emb = _with_edge_vectors(spark, emb, dim).unionByName(
        spark.createDataFrame(
            [(10**9, None)], "vec_id long, embedding array<double>"
        ).withColumn("label", F.lit(None).cast("int"))
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    for metric, single, multi, score in (
        ("l2", similarity.l2_topk, similarity.l2_topk_multi, "l2"),
        ("cosine", similarity.cosine_topk, similarity.cosine_topk_multi,
         "cos_sim"),
    ):
        expected = []
        for qid in sorted(vecs):
            expected += [
                (qid, r.vec_id, r[score])
                for r in single(
                    emb, vecs[qid], 7, exclude_ids=(qid,)
                ).collect()
            ]
        key = (lambda t: (t[0], t[2], t[1])) if metric == "l2" else (
            lambda t: (t[0], -t[2], t[1]))
        expected.sort(key=key)
        got = [
            (r.query_id, r.vec_id, r[score])
            for r in multi(emb, vecs, k=7)
            .orderBy(
                "query_id",
                F.col(score).asc() if metric == "l2"
                else F.col(score).desc(),
                "vec_id",
            ).collect()
        ]
        assert got == expected, metric
        assert all(v != 10**9 for _, v, _ in got), metric
        if metric == "cosine":
            assert all(v < 10**9 for _, v, _ in got)
        _assert_edge_rows_match(
            spark, lambda df, q: single(df, q, 10), lambda df, qs: multi(df, qs), score
        )
    # no self-exclusion: each query's own vector is its own top hit
    inc = similarity.l2_topk_multi(
        emb, vecs, k=1, exclude_query_ids=False
    ).collect()
    assert {(r.query_id, r.vec_id) for r in inc} == {(q, q) for q in vecs}
    inc_c = similarity.cosine_topk_multi(
        emb, vecs, k=1, exclude_query_ids=False
    ).collect()
    assert {(r.query_id, r.vec_id) for r in inc_c} == {(q, q) for q in vecs}
    with pytest.raises(ValueError, match="query"):
        similarity.cosine_topk_multi(emb, {})


def test_ivf_topk_multi_modes_match_single(spark, sf_dir, tmp_path):
    """Batched raw-vector IVF serving: ivf_topk_multi must reproduce
    per-query ivf_topk in BOTH metrics over a persisted cell-partitioned
    store holding a NaN-element and a zero vector, each query scoring
    only its own probed cells, the scan pruned to the union
    (PartitionFilters asserted)."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    stored = _with_edge_vectors(spark, emb, dim)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    for metric, score in (("l2", "l2"), ("cosine", "cos_sim")):
        cents = similarity.ivf_fit_centroids(
            emb, k_cells=8, iters=2, dim=dim, metric=metric
        )
        path = str(tmp_path / f"ivf_{metric}")
        similarity.ivf_assign(stored, cents, metric=metric).write.partitionBy(
            "ivf_cell"
        ).parquet(path)
        store = spark.read.parquet(path)
        expected = []
        for qid in sorted(vecs):
            expected += [
                (qid, r.vec_id, r[score])
                for r in similarity.ivf_topk(
                    store, vecs[qid], cents, k=5, nprobe=3,
                    cell_col="ivf_cell", exclude_ids=(qid,), metric=metric,
                ).collect()
            ]
        key = (lambda t: (t[0], t[2], t[1])) if metric == "l2" else (
            lambda t: (t[0], -t[2], t[1]))
        expected.sort(key=key)
        multi = similarity.ivf_topk_multi(
            store, vecs, cents, k=5, nprobe=3, cell_col="ivf_cell",
            metric=metric,
        )
        got = [
            (r.query_id, r.vec_id, r[score])
            for r in multi.orderBy(
                "query_id",
                F.col(score).asc() if metric == "l2"
                else F.col(score).desc(),
                "vec_id",
            ).collect()
        ]
        assert got == expected, metric
        plan = multi._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "ivf_cell" in plan.split(
            "PartitionFilters:"
        )[1].split("]")[0], metric
        edge_cents = [[1.0, 0.0], [0.0, 1.0]]
        _assert_edge_rows_match(
            spark,
            lambda df, q: similarity.ivf_topk(df, q, edge_cents, nprobe=2, metric=metric),
            lambda df, qs: similarity.ivf_topk_multi(df, qs, edge_cents, nprobe=2, metric=metric),
            score,
        )
    with pytest.raises(ValueError, match="query"):
        similarity.ivf_topk_multi(store, {}, cents)


def test_ann_lsh_topk_multi_modes_match_single(spark, sf_dir):
    """Batched SRP-LSH serving: ann_lsh_topk_multi must reproduce
    per-query ann_lsh_topk (driver-enumerated Hamming balls == the
    single query's probe predicate), incl. multi-table
    OR-amplification, self-exclusion, and a NaN-element and a zero
    vector in the store."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    emb = _with_edge_vectors(spark, emb, len(emb.select("embedding").first()[0]))
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 3).collect()}
    kwargs = dict(k=6, num_planes=6, num_tables=2, radius=1)
    expected = []
    for qid in sorted(vecs):
        expected += [
            (qid, r.vec_id, r.cos_sim)
            for r in similarity.ann_lsh_topk(
                emb, vecs[qid], exclude_ids=(qid,), **kwargs
            ).collect()
        ]
    expected.sort(key=lambda t: (t[0], -t[2], t[1]))
    got = [
        (r.query_id, r.vec_id, r.cos_sim)
        for r in similarity.ann_lsh_topk_multi(
            emb, vecs, **kwargs
        ).orderBy("query_id", F.col("cos_sim").desc(), "vec_id").collect()
    ]
    assert got == expected
    _assert_edge_rows_match(
        spark,
        lambda df, q: similarity.ann_lsh_topk(df, q, num_planes=2, radius=2),
        lambda df, qs: similarity.ann_lsh_topk_multi(df, qs, num_planes=2, radius=2),
        "cos_sim",
    )
    with pytest.raises(ValueError, match="query"):
        similarity.ann_lsh_topk_multi(emb, {})
    with pytest.raises(ValueError, match="num_tables"):
        similarity.ann_lsh_topk_multi(emb, vecs, num_tables=0)


def test_ann_lsh_persisted_sig_cols_match_computed(spark, sf_dir, tmp_path):
    """Round 14: a store that PERSISTS its L signature columns (written
    once by lsh_signature under the same (planes, dim, seed) derivation)
    serves queries without the hashing pass — single and batched paths
    must return exactly what the compute-on-the-fly forms return, and
    the persisted plans must contain no lsh hashing projection."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    kwargs = dict(num_planes=6, num_tables=2, radius=1)
    store_df = emb
    cols = []
    for t in range(kwargs["num_tables"]):
        planes = similarity._hyperplanes(6, dim, 42 + 1000003 * t)
        col = f"lsh_sig_{t}"
        store_df = store_df.withColumn(col, similarity.lsh_signature("embedding", planes))
        cols.append(col)
    path = str(tmp_path / "lsh_store")
    store_df.write.parquet(path)
    store = spark.read.parquet(path)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 2).collect()}
    qv = vecs[0]
    computed = [(r.vec_id, r.cos_sim) for r in similarity.ann_lsh_topk(
        emb, qv, k=6, exclude_ids=(0,), **kwargs).collect()]
    persisted = similarity.ann_lsh_topk(
        store, qv, k=6, exclude_ids=(0,), num_planes=6, radius=1,
        sig_cols=cols,
    )
    assert [(r.vec_id, r.cos_sim) for r in persisted.collect()] == computed
    comp_m = [
        (r.query_id, r.vec_id, r.cos_sim)
        for r in similarity.ann_lsh_topk_multi(
            emb, vecs, k=6, **kwargs
        ).orderBy("query_id", F.col("cos_sim").desc(), "vec_id").collect()
    ]
    pers_m = [
        (r.query_id, r.vec_id, r.cos_sim)
        for r in similarity.ann_lsh_topk_multi(
            store, vecs, k=6, num_planes=6, radius=1, sig_cols=cols,
        ).orderBy("query_id", F.col("cos_sim").desc(), "vec_id").collect()
    ]
    assert comp_m == pers_m
    with pytest.raises(ValueError, match="sig_cols"):
        similarity.ann_lsh_topk(store, qv, sig_cols=[])
    with pytest.raises(ValueError, match="sig_cols"):
        similarity.ann_lsh_topk_multi(store, vecs, sig_cols=[])


def test_lsh_persist_signatures_owns_canonical_derivation(spark, sf_dir):
    """ADVICE r14: the persisted-signature contract gets a public owner
    — lsh_persist_signatures must write exactly the columns the private
    (seed + 1000003·t, sig_cols-order) derivation produces, serving
    through them must match compute-on-the-fly, and a malformed handoff
    (missing / non-integral sig_cols) must fail fast instead of
    silently probing wrong buckets."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    store, cols = similarity.lsh_persist_signatures(
        emb, num_planes=6, num_tables=2, seed=42
    )
    assert cols == ["lsh_sig_0", "lsh_sig_1"]
    # column t == lsh_signature under the canonical table-t hyperplanes
    for t, col in enumerate(cols):
        planes = similarity._hyperplanes(6, dim, 42 + 1000003 * t)
        diff = (
            store.withColumn("__ref", similarity.lsh_signature("embedding", planes))
            .filter(F.col(col) != F.col("__ref"))
            .count()
        )
        assert diff == 0, col
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 2).collect()}
    computed = similarity.ann_lsh_topk(
        emb, vecs[0], k=6, num_planes=6, num_tables=2, exclude_ids=(0,)
    ).collect()
    persisted = similarity.ann_lsh_topk(
        store, vecs[0], k=6, num_planes=6, exclude_ids=(0,), sig_cols=cols
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in persisted] == [
        (r.vec_id, r.cos_sim) for r in computed
    ]
    # explicit dim matches derived dim
    store2, cols2 = similarity.lsh_persist_signatures(
        emb, num_planes=6, num_tables=1, seed=42, dim=dim
    )
    assert store2.select(cols2[0]).collect() == store.select("lsh_sig_0").collect()
    # handoff validation: missing and non-integral columns fail fast
    with pytest.raises(ValueError, match="not in frame"):
        similarity.ann_lsh_topk(emb, vecs[0], sig_cols=["nope_0"])
    bad = emb.withColumn("s0", F.lit("abc"))
    with pytest.raises(ValueError, match="integral"):
        similarity.ann_lsh_topk(bad, vecs[0], sig_cols=["s0"])
    with pytest.raises(ValueError, match="not in frame"):
        similarity.ann_lsh_topk_multi(emb, vecs, sig_cols=["nope_0"])
    with pytest.raises(ValueError, match="num_tables"):
        similarity.lsh_persist_signatures(emb, num_tables=0)


def test_cosine_family_excludes_zero_norm_vectors(spark):
    """ADVICE r14: a zero-norm embedding's cosine is 0/0 — a
    DIVIDE_BY_ZERO error under the driver's ANSI session — and a vector
    with a NaN or infinite element scores NaN, which numpy and Spark
    rank OPPOSITELY under DESC. The whole cosine top-k family keeps
    only vectors whose squared norm is positive and finite; the batched
    operator agrees with the single-query one row for row."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero-norm: excluded everywhere
        (3, [0.5, 0.5, 0.0]),
        (4, None),              # NULL: excluded everywhere
        (5, [-1.0, 0.0, 0.0]),
    ]
    # NaN and infinite elements: excluded everywhere
    odd = [(6, [float("nan"), 1.0, 0.0]), (7, [float("inf"), 0.0, 0.0])]
    excluded = (2, 4, 6, 7)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").unionByName(
        _vector_frame(spark, odd)
    )
    single = similarity.cosine_topk(df, [1.0, 0.0, 0.0], k=10)
    ids = [r.vec_id for r in single.collect()]
    assert set(ids) == {0, 1, 3, 5}
    vecs = {0: [1.0, 0.0, 0.0], 1: [0.9, 0.1, 0.0]}
    expected = sorted(
        (qid, r.vec_id, r.cos_sim)
        for qid, q in vecs.items()
        for r in similarity.cosine_topk(df, q, k=10, exclude_ids=(qid,)).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, r.cos_sim)
        for r in similarity.cosine_topk_multi(df, vecs, k=10).collect()
    )
    assert got == expected
    assert all(v not in excluded for _, v, _s in got)
    # the LSH and IVF cosine tiers share the rule (radius wide enough
    # that the zero vector's bucket IS probed — exclusion must come
    # from the norm filter, not bucket luck)
    q = vecs[0]
    lsh = [
        similarity.ann_lsh_topk(df, q, k=10, num_planes=2, radius=2),
        similarity.ann_lsh_topk_multi(df, vecs, k=10, num_planes=2, radius=2),
    ]
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    ivf = [
        similarity.ivf_topk(df, q, cents, k=10, nprobe=2, metric="cosine"),
        similarity.ivf_topk_multi(df, vecs, cents, k=10, nprobe=2, metric="cosine"),
    ]
    for out in lsh + ivf:
        assert all(r.vec_id not in excluded for r in out.collect())


def test_batched_serving_id_type_derived_and_validated(spark):
    """ADVICE r14: the *_multi kernels hardcoded `long` id schemas and
    silently coerced with to_numpy(int64). Now: a non-integral id fails
    fast with a clear message, and an `int` id column keeps its width
    through the batched kernel."""
    rows = [(i, [float(i), 1.0]) for i in range(6)]
    df_int = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )
    vecs = {0: [0.0, 1.0], 1: [1.0, 1.0]}
    out = similarity.l2_topk_multi(df_int, vecs, k=3)
    assert dict(out.dtypes)["vec_id"] == "int"
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        (qid, r.vec_id, r.l2)
        for qid, q in vecs.items()
        for r in similarity.l2_topk(df_int, q, k=3, exclude_ids=(qid,)).collect()
    )
    df_str = spark.createDataFrame(
        [(str(i), v) for i, v in rows],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(TypeError, match="integral id"):
        similarity.l2_topk_multi(df_str, vecs, k=3)
    with pytest.raises(TypeError, match="integral id"):
        similarity.ann_lsh_topk_multi(df_str, vecs, num_planes=2)
    with pytest.raises(TypeError, match="integral id"):
        similarity.ivf_topk_multi(df_str, vecs, [[0.0, 1.0]], metric="l2")
    enc_str = df_str.withColumn("pq_code", F.array(F.lit(0)))
    with pytest.raises(TypeError, match="integral id"):
        similarity.pq_adc_topk_multi(enc_str, vecs, [[[0.0, 1.0]]])


def test_refine_narrower_than_k_still_yields_k(spark, sf_dir):
    """ADVICE r14: single-query refine paths shortlisted exactly
    refine_n while the batched ones shortlist max(k, refine_n) — a
    refine_n < k call diverged from the documented 'per-query rows
    identical' parity. Both now widen: refine_n < k returns the same
    rows as refine_n == k, and single == batched row for row."""
    from datapipelineetl_spark import catalog

    emb = catalog.load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    books = similarity.pq_fit(emb, m=4, k_sub=4, iters=1, round_dp=4)
    enc = similarity.pq_encode(emb, books)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    k = 6
    narrow = similarity.pq_adc_topk(
        enc, qv, books, k=k, refine_n=2, vectors=emb, exclude_ids=(0,),
        round_dp=4,
    ).collect()
    assert len(narrow) == k
    atk = similarity.pq_adc_topk(
        enc, qv, books, k=k, refine_n=k, vectors=emb, exclude_ids=(0,),
        round_dp=4,
    ).collect()
    assert [(r.vec_id, r.adc, r.l2) for r in narrow] == [
        (r.vec_id, r.adc, r.l2) for r in atk
    ]
    multi = similarity.pq_adc_topk_multi(
        enc, {0: qv}, books, k=k, refine_n=2, vectors=emb, round_dp=4,
    ).collect()
    assert sorted((r.vec_id, r.adc, r.l2) for r in multi) == sorted(
        (r.vec_id, r.adc, r.l2) for r in narrow
    )


def _encode_gif(px_rows, palette, interlaced=False, local_table=False):
    """Minimal stdlib GIF ENCODER for the decoder tests: the
    clear-code-before-every-pixel LZW trick keeps the code width
    constant at min_code_size+1 (spec-valid — the decoder's dictionary
    resets before it can grow), packed LSB-first into 255-byte
    sub-blocks, with a GCE extension block in front of the image
    descriptor to exercise the extension-skipping walk."""
    import struct

    h, w = len(px_rows), len(px_rows[0])
    n = 2
    while n < len(palette):
        n *= 2
    pal = list(palette) + [(0, 0, 0)] * (n - len(palette))
    size_bits = n.bit_length() - 1
    min_code = max(2, size_bits)
    clear = 1 << min_code
    eoi = clear + 1
    codes = [clear]
    for row in px_rows:
        for v in row:
            codes.extend((v, clear))
    codes[-1] = eoi
    acc = nbits = 0
    data = bytearray()
    cw = min_code + 1
    for c in codes:
        acc |= c << nbits
        nbits += cw
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    blocks = b"".join(
        bytes([len(data[i : i + 255])]) + bytes(data[i : i + 255])
        for i in range(0, len(data), 255)
    ) + b"\x00"
    gct = b"".join(bytes(c) for c in pal)
    screen_packed = (0 if local_table else 0x80) | ((size_bits - 1) & 7)
    out = b"GIF89a" + struct.pack("<HH", w, h) + bytes([screen_packed, 0, 0])
    if not local_table:
        out += gct
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE extension (skipped)
    ipacked = (0x40 if interlaced else 0) | (
        (0x80 | ((size_bits - 1) & 7)) if local_table else 0
    )
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([ipacked])
    if local_table:
        out += gct
    out += bytes([min_code]) + blocks + b"\x3b"
    return out


def test_gif_pixels_stdlib_lzw_decode():
    """Rounds 15-16: `_gif_pixels` is a REAL stdlib decode — spec LZW
    (variable-width LSB-first codes, CLEAR/EOI) through the global or
    local color table, extension blocks skipped, interlaced row order
    de-permuted; truncated streams return None (→ the codec gate),
    never a wrong decode."""
    import numpy as np

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    rows = [[0, 1, 2, 3], [3, 2, 1, 0], [1, 1, 3, 0]]
    for local in (False, True):
        gif = _encode_gif(rows, palette, local_table=local)
        px = multimodal._gif_pixels(gif)
        assert px is not None and px.shape == (3, 4, 3), local
        expect = np.array(palette, dtype=np.uint8)[np.array(rows)]
        assert (px == expect).all(), local
    # header decode agrees on dimensions
    hdr = multimodal._parse_media_header(_encode_gif(rows, palette))
    assert (hdr["detected_format"], hdr["width"], hdr["height"]) == ("gif", 4, 3)
    # interlaced (round 16: IN-envelope): stream rows arrive in the
    # four GIF passes — encode a 9-row image pass-permuted, decode to
    # the display order
    disp = [[(y + x) % 4 for x in range(2)] for y in range(9)]
    order = (
        list(range(0, 9, 8)) + list(range(4, 9, 8))
        + list(range(2, 9, 4)) + list(range(1, 9, 2))
    )  # [0, 8, 4, 2, 6, 1, 3, 5, 7]
    stream_rows = [disp[y] for y in order]
    pxi = multimodal._gif_pixels(
        _encode_gif(stream_rows, palette, interlaced=True)
    )
    expect = np.array(palette, dtype=np.uint8)[np.array(disp)]
    assert pxi is not None and (pxi == expect).all()
    # malformed → None
    assert multimodal._gif_pixels(b"GIF89a\x00") is None
    truncated = _encode_gif(rows, palette)[:-12]
    assert multimodal._gif_pixels(truncated) is None
    assert multimodal._gif_pixels(None) is None
    # a 2-color palette exercises the min_code_size=2 floor
    bw = _encode_gif([[0, 1], [1, 0]], [(0, 0, 0), (255, 255, 255)])
    px = multimodal._gif_pixels(bw)
    assert (px[0, 1] == [255, 255, 255]).all() and (px[1, 1] == [0, 0, 0]).all()


def test_resize_media_real_gif_pixels(spark):
    """GIF joins the real resize envelope: a GIF, a PNG, and a P6
    encoding the SAME pixels resize to IDENTICAL bytes through
    resize_media — interlaced GIFs included (round 16)."""
    palette = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (11, 12, 13)]
    idx_rows = [[0, 1, 2, 3], [3, 0, 1, 2]]
    flat = [list(palette[i]) for row in idx_rows for i in row]
    rgb_rows = [
        [v for px in flat[y * 4 : (y + 1) * 4] for v in px] for y in range(2)
    ]
    gif = _encode_gif(idx_rows, palette)
    png = _encode_png(rgb_rows, 2, [0, 2])
    ppm = b"P6\n4 2\n255\n" + bytes(v for row in rgb_rows for v in row)
    df = spark.createDataFrame(
        [(1, gif), (2, png), (3, ppm)], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 1).collect()}
    assert got[1].src_format == "gif" and got[1].resized
    assert bytes(got[1].payload) == bytes(got[2].payload) == bytes(got[3].payload)
    # round 16: an interlaced GIF resizes for real too — for a 2-row
    # image the pass permutation is [row0, row1] = identity, so the
    # interlaced twin matches the linear one byte-for-byte
    inter = _encode_gif(idx_rows, palette, interlaced=True)
    dfi = spark.createDataFrame([(9, inter)], "media_id long, payload binary")
    goti = multimodal.resize_media(dfi, 2, 1).collect()[0]
    assert goti.resized and bytes(goti.payload) == bytes(got[1].payload)


def test_image_stats_real_pixels_cross_format(spark):
    """`image_stats` measures ACTUAL decoded pixels: hand-computed
    channel stats on a P6; a PNG and a GIF of the SAME pixels produce
    IDENTICAL stats rows (shared post-decode kernel); undecodable
    payloads are valid=false observations, never errors and never a
    library gate (stats are a measurement surface)."""
    palette = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (110, 120, 130)]
    idx_rows = [[0, 1, 2, 3], [3, 2, 1, 0]]
    flat = [list(palette[i]) for row in idx_rows for i in row]
    rgb_rows = [
        [v for px in flat[y * 4 : (y + 1) * 4] for v in px] for y in range(2)
    ]
    ppm = b"P6\n4 2\n255\n" + bytes(v for row in rgb_rows for v in row)
    png = _encode_png(rgb_rows, 2, [1, 4])
    gif = _encode_gif(idx_rows, palette)
    df = spark.createDataFrame(
        [(1, ppm), (2, png), (3, gif), (4, b"\x00junk"), (5, None)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in multimodal.image_stats(df).collect()}
    # hand stats: each channel sees each palette value twice → mean is
    # the palette-channel mean; min/max are the channel extremes
    assert got[1].detected_format == "ppm" and got[1].valid
    assert (got[1].width, got[1].height, got[1].n_pixels) == (4, 2, 8)
    assert got[1].mean_r == (10 + 40 + 70 + 110) * 2 / 8.0
    assert got[1].mean_g == (20 + 50 + 80 + 120) * 2 / 8.0
    assert (got[1].min_b, got[1].max_b) == (30, 130)
    for mid, fmt in ((2, "png"), (3, "gif")):
        r = got[mid]
        assert r.detected_format == fmt and r.valid, mid
        assert (
            (r.width, r.height, r.n_pixels, r.mean_r, r.mean_g, r.mean_b,
             r.min_r, r.min_g, r.min_b, r.max_r, r.max_g, r.max_b)
            == (got[1].width, got[1].height, got[1].n_pixels, got[1].mean_r,
                got[1].mean_g, got[1].mean_b, got[1].min_r, got[1].min_g,
                got[1].min_b, got[1].max_r, got[1].max_g, got[1].max_b)
        ), mid
    assert not got[4].valid and got[4].mean_r is None
    assert not got[5].valid and got[5].detected_format is None
    # id column keeps its own name/type (the decode_headers discipline)
    sdf = spark.createDataFrame([("u1", ppm)], "uri string, payload binary")
    out = multimodal.image_stats(sdf, id_col="uri")
    assert out.columns[0] == "uri" and dict(out.dtypes)["uri"] == "string"
    assert out.collect()[0].valid


def test_audio_stats_real_wav_samples(spark):
    """`audio_stats` measures ACTUAL PCM samples through the real RIFF
    walk: a `wave`-module-written 16-bit stereo clip produces the
    hand-computed frame count, duration, DC offset, peak and RMS; the
    8-bit path uses the centered (byte − 128) convention; non-PCM /
    malformed payloads are valid=false observations."""
    import io
    import math
    import struct
    import wave

    # 16-bit stereo, 4 frames at 1000 Hz — samples chosen so every
    # stat is hand-checkable: interleaved L/R values
    vals = [100, -100, 2000, -2000, 30000, -30000, 0, 5]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(1000)
        w.writeframes(struct.pack("<8h", *vals))
    wav16 = buf.getvalue()
    # 8-bit mono: unsigned bytes, centered by -128
    data8 = bytes([128, 129, 127, 255, 0, 128])
    wav8 = (
        b"RIFF" + struct.pack("<I", 36 + len(data8)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(data8)) + data8
    )
    # float format code at an invalid 8-bit depth stays gated (round 16
    # admitted REAL float WAVs — but only at their legal 32/64 bits)
    wavf = wav8.replace(
        struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8),
        struct.pack("<HHIIHH", 3, 1, 8000, 8000, 1, 8),
    )
    df = spark.createDataFrame(
        [(1, wav16), (2, wav8), (3, wavf), (4, b"not audio"), (5, None)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in multimodal.audio_stats(df).collect()}
    r16 = got[1]
    assert (r16.sample_rate, r16.n_channels, r16.bit_depth) == (1000, 2, 16)
    assert (r16.n_frames, r16.duration_ms) == (4, 4)
    assert r16.mean_sample == sum(vals) / 8.0
    assert r16.peak_abs == 30000
    assert r16.rms == math.sqrt(sum(v * v for v in vals) / 8.0)
    assert r16.valid
    r8 = got[2]
    cent = [0, 1, -1, 127, -128, 0]
    assert (r8.n_frames, r8.bit_depth, r8.peak_abs) == (6, 8, 128)
    assert r8.mean_sample == sum(cent) / 6.0
    assert r8.rms == math.sqrt(sum(v * v for v in cent) / 6.0)
    for bad in (3, 4, 5):
        assert not got[bad].valid and got[bad].rms is None, bad
    # decode_headers and audio_stats agree on the container metadata
    hdr = multimodal.decode_headers(
        spark.createDataFrame([(1, wav16)], "media_id long, payload binary")
    ).collect()[0]
    assert (hdr.sample_rate, hdr.n_channels, hdr.bit_depth) == (1000, 2, 16)


def _encode_wav(fmt_code, bits, ch, sr, data, extensible=False):
    """Minimal WAV writer for the decoder tests: standard 16-byte fmt
    chunk, or the 40-byte WAVE_FORMAT_EXTENSIBLE form carrying the
    effective code in the SubFormat GUID."""
    import struct

    if extensible:
        sub = struct.pack("<H", fmt_code) + bytes(14)
        fmt = struct.pack(
            "<HHIIHHHHI", 0xFFFE, ch, sr, sr * ch * bits // 8,
            ch * bits // 8, bits, 22, bits, 0,
        ) + sub
    else:
        fmt = struct.pack(
            "<HHIIHH", fmt_code, ch, sr, sr * ch * bits // 8,
            ch * bits // 8, bits,
        )
    return (
        b"RIFF" + struct.pack("<I", 20 + len(fmt) + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_wav_widened_envelope(spark):
    """Round 16 (closes VERDICT r15 Missing #3, audio leg): the WAV
    envelope widens to 24/32-bit PCM, IEEE float 32/64, and
    WAVE_FORMAT_EXTENSIBLE. Float samples map to the 16-bit grid via
    rint(clip(x,-1,1)·32767); 24-bit sign-extends exactly; 32-bit RMS
    accumulates in float64 (int64 squares would wrap); EXTENSIBLE
    resolves the effective code from the SubFormat GUID."""
    import math
    import struct

    import numpy as np

    # float32 mono: clip + scale to the 16-bit grid
    fvals = [0.0, 0.5, -1.0, 1.5]
    cent_f = [0, 16384, -32767, 32767]  # rint(clip(x)*32767)
    wav_f32 = _encode_wav(3, 32, 1, 8000, struct.pack("<4f", *fvals))
    wav_f64 = _encode_wav(3, 64, 1, 8000, struct.pack("<4d", *fvals))
    # 24-bit mono: LE sign extension, full range
    vals24 = [100000, -100000, 8388607, -8388608]
    d24 = b"".join(v.to_bytes(3, "little", signed=True) for v in vals24)
    wav_24 = _encode_wav(1, 24, 1, 44100, d24)
    # 32-bit stereo: float64 RMS radicand
    vals32 = [1 << 30, -(1 << 30), 123456789, -5]
    wav_32 = _encode_wav(1, 32, 2, 48000, struct.pack("<4i", *vals32))
    # EXTENSIBLE wrapping plain 16-bit PCM
    vals16 = [100, -30000, 5, 0]
    wav_ext = _encode_wav(
        1, 16, 2, 1000, struct.pack("<4h", *vals16), extensible=True
    )
    # EXTENSIBLE wrapping an unsupported sub-code stays gated
    wav_bad = _encode_wav(
        7, 16, 2, 1000, struct.pack("<4h", *vals16), extensible=True
    )
    df = spark.createDataFrame(
        [(1, wav_f32), (2, wav_f64), (3, wav_24), (4, wav_32),
         (5, wav_ext), (6, wav_bad)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in multimodal.audio_stats(df).collect()}
    for mid, bits in ((1, 32), (2, 64)):
        r = got[mid]
        assert r.valid and (r.bit_depth, r.n_frames) == (bits, 4), mid
        assert r.mean_sample == sum(cent_f) / 4.0
        assert r.peak_abs == 32767
        assert r.rms == math.sqrt(sum(v * v for v in cent_f) / 4.0)
    r24 = got[3]
    assert r24.valid and (r24.bit_depth, r24.sample_rate) == (24, 44100)
    assert r24.mean_sample == sum(vals24) / 4.0
    assert r24.peak_abs == 8388608
    s64 = np.array(vals24, dtype=np.float64)
    assert r24.rms == math.sqrt(float(np.dot(s64, s64)) / 4.0)
    r32 = got[4]
    assert r32.valid and (r32.bit_depth, r32.n_channels) == (32, 2)
    assert r32.mean_sample == sum(vals32) / 4.0
    assert r32.peak_abs == 1 << 30
    s64 = np.array(vals32, dtype=np.float64)
    assert r32.rms == math.sqrt(float(np.dot(s64, s64)) / 4.0)
    rext = got[5]
    assert rext.valid and (rext.bit_depth, rext.n_channels) == (16, 2)
    assert rext.mean_sample == sum(vals16) / 4.0 and rext.peak_abs == 30000
    assert not got[6].valid and got[6].rms is None


def _encode_bmp(rgb_rows, top_down=False):
    """Minimal 24-bit BI_RGB BMP encoder for the decoder tests: BGR
    rows with 4-byte padding, bottom-up unless top_down."""
    import struct

    h, w = len(rgb_rows), len(rgb_rows[0]) // 3
    stride = (w * 3 + 3) & ~3
    rows = rgb_rows if top_down else rgb_rows[::-1]
    body = bytearray()
    for row in rows:
        for x in range(w):
            r, g, b = row[3 * x : 3 * x + 3]
            body.extend((b, g, r))
        body.extend(b"\x00" * (stride - w * 3))
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
        len(body), 2835, 2835, 0, 0,
    )
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    return header + dib + bytes(body)


def test_bmp_pixels_and_cross_format_parity(spark):
    """Round 15: `_bmp_pixels` is REAL — bottom-up and top-down 24-bit
    BMPs of the same pixels decode identically (row padding stripped,
    BGR swapped), BMP joins the resize + image_stats envelope with
    byte-identical results to P6, and out-of-envelope variants
    (non-24-bit) fall to the gate."""
    import numpy as np

    # w=3 exercises the 3-pad-byte stride; values per channel distinct
    rgb_rows = [
        [(7 * x + 50 * c + 20 * y) % 256 for x in range(3) for c in range(3)]
        for y in range(2)
    ]
    expect = np.array(rgb_rows, dtype=np.uint8).reshape(2, 3, 3)
    for td in (False, True):
        px = multimodal._bmp_pixels(_encode_bmp(rgb_rows, top_down=td))
        assert px is not None and (px == expect).all(), td
    bmp = _encode_bmp(rgb_rows)
    ppm = b"P6\n3 2\n255\n" + bytes(v for row in rgb_rows for v in row)
    df = spark.createDataFrame(
        [(1, bmp), (2, ppm)], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 1).collect()}
    assert got[1].src_format == "bmp" and got[1].resized
    assert bytes(got[1].payload) == bytes(got[2].payload)
    st = {r.media_id: r for r in multimodal.image_stats(df).collect()}
    assert st[1].valid and st[2].valid
    assert (st[1].mean_r, st[1].min_g, st[1].max_b) == (
        st[2].mean_r, st[2].min_g, st[2].max_b
    )
    # BI_BITFIELDS: outside the envelope → gate in resize, observation
    # in stats (16-bit moved in-envelope in round 16 as BI_RGB 555)
    bad = bytearray(_encode_bmp(rgb_rows))
    bad[30:34] = (3).to_bytes(4, "little")  # biCompression = BITFIELDS
    dfb = spark.createDataFrame([(9, bytes(bad))], "media_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|image library"):
        multimodal.resize_media(dfb, 2, 1).collect()
    assert not multimodal.image_stats(dfb).collect()[0].valid


def test_png_subbyte_depths():
    """Round 16: 1/2/4-bit packed PNG depths decode for real — gray
    scales to 8-bit via the exact 255//(2^d−1) factor, palette indexes
    unpack MSB-first, rows end mid-byte, Adam7 composes with packing,
    and sub-byte color types outside the spec (RGB at 4-bit) gate."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def packed_png(samples, d, color_type, plte=None, interlace=0):
        """samples: (h, w) ints < 2^d; filter 0 rows, MSB-first."""
        h, w = len(samples), len(samples[0])
        per = 8 // d

        def pack_rows(rows):
            raw = bytearray()
            for row in rows:
                raw.append(0)
                acc = nb = 0
                out = []
                for v in row:
                    acc = (acc << d) | v
                    nb += d
                    if nb == 8:
                        out.append(acc)
                        acc = nb = 0
                if nb:
                    out.append(acc << (8 - nb))
                raw.extend(out)
            return raw

        if interlace == 0:
            raw = pack_rows(samples)
        else:
            raw = bytearray()
            arr = np.array(samples)
            for x0, y0, dx, dy in multimodal._ADAM7:
                sub = arr[y0::dy, x0::dx]
                if sub.shape[0] and sub.shape[1]:
                    raw.extend(pack_rows(sub.tolist()))
        ihdr = struct.pack(">IIBBBBB", w, h, d, color_type, 0, 0, interlace)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", bytes(plte))
        body += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        return b"\x89PNG\r\n\x1a\n" + body

    # 1-bit gray 10 wide (rows end mid-byte): checkerboard
    rows1 = [[(x + y) % 2 for x in range(10)] for y in range(3)]
    px = multimodal._png_pixels(packed_png(rows1, 1, 0))
    assert px.shape == (3, 10, 3)
    assert (px[:, :, 0] == np.array(rows1) * 255).all()
    # 2-bit gray: scale 85
    rows2 = [[0, 1, 2, 3, 3], [3, 2, 1, 0, 1]]
    px = multimodal._png_pixels(packed_png(rows2, 2, 0))
    assert (px[:, :, 0] == np.array(rows2) * 85).all()
    # 4-bit palette with a 3-wide row (odd nibble)
    plte = [255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9]
    rows4 = [[0, 1, 2], [3, 0, 1]]
    px = multimodal._png_pixels(packed_png(rows4, 4, 3, plte=plte))
    assert (px[0, 2] == [0, 0, 255]).all() and (px[1, 0] == [9, 9, 9]).all()
    # 2-bit gray + Adam7 on a 9x9
    rows9 = [[(x * y + x) % 4 for x in range(9)] for y in range(9)]
    px = multimodal._png_pixels(packed_png(rows9, 2, 0, interlace=1))
    assert (px[:, :, 0] == np.array(rows9) * 85).all()
    # sub-byte RGB is spec-invalid → gate
    assert multimodal._png_pixels(packed_png(rows2, 2, 2)) is None
    # palette index past PLTE end → corrupt, None
    assert multimodal._png_pixels(
        packed_png([[0, 7]], 4, 3, plte=plte[:6])
    ) is None


def test_bmp_rle8_and_16bit():
    """Round 16: BI_RLE8 decode (encoded runs, absolute mode with word
    alignment, EOL/EOF/delta escapes) and BI_RGB 16-bit X1R5G5B5 — both
    against hand-computed pixels; RLE4 stays gated."""
    import struct

    import numpy as np

    palette = [(10, 20, 30), (200, 150, 100), (0, 255, 7), (255, 0, 128)]

    def hdr(w, h, bpp, comp, body_len, table=b"", offset_extra=0):
        offset = 54 + len(table)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, body_len, 0, 0, 0, 0
        )
        return (
            b"BM" + struct.pack("<IHHI", offset + body_len, 0, 0, offset)
            + dib + table
        )

    table = b"".join(bytes((bb, g, r, 0)) for r, g, bb in palette)
    table += bytes(4) * (256 - 4)
    # 4x3 bottom-up RLE8 — bottom row: run 4×1, EOL; middle: absolute
    # mode (3 literals + word pad) then run 1×2, EOL; top: run 2×0
    # (rest stays the zero fill), EOL; EOF
    rle = bytes(
        [4, 1, 0, 0,
         0, 3, 0, 2, 3, 0,      # absolute: 3 literals + 1 pad byte
         1, 2, 0, 0,
         2, 0, 0, 0,
         0, 1]
    )
    bmp = hdr(4, 3, 8, 1, len(rle), table) + rle
    px = multimodal._bmp_pixels(bmp)
    assert px is not None and px.shape == (3, 4, 3)
    pal = np.array(palette, dtype=np.uint8)
    # display row 0 = TOP = last decoded (y=2): [0,0, fill0, fill0]
    assert (px[0] == pal[np.array([0, 0, 0, 0])]).all()
    # display row 1 (y=1): abs 0,2,3 then run 1×2
    assert (px[1] == pal[np.array([0, 2, 3, 2])]).all()
    # display row 2 = BOTTOM (y=0): run 4×1
    assert (px[2] == pal[np.array([1, 1, 1, 1])]).all()
    # RLE4 (round 16): nibble-alternating runs + packed absolute mode
    # 4x2 bottom-up: bottom row run 4 of byte 0x12 → 1,2,1,2; top row
    # absolute 3 nibbles 0,3,1 (2 bytes: 0x03, 0x10) + run 1×0x33 → 3
    rle4 = bytes(
        [4, 0x12, 0, 0,
         0, 3, 0x03, 0x10,
         1, 0x33, 0, 0,
         0, 1]
    )
    bmp4 = hdr(4, 2, 4, 2, len(rle4), table) + rle4
    px4 = multimodal._bmp_pixels(bmp4)
    assert px4 is not None
    assert (px4[1] == pal[np.array([1, 2, 1, 2])]).all()  # bottom row
    assert (px4[0] == pal[np.array([0, 3, 1, 3])]).all()  # top row
    # mismatched RLE depth gates
    bad = bytearray(bmp)
    bad[28:30] = (4).to_bytes(2, "little")  # RLE8 stream, 4-bit depth
    assert multimodal._bmp_pixels(bytes(bad)) is None
    # 16-bit 555, 2x2 bottom-up: known 5-bit channels
    def p555(r5, g5, b5):
        return (r5 << 10) | (g5 << 5) | b5
    vals = [[p555(31, 0, 16), p555(0, 31, 1)],   # display top row
            [p555(10, 20, 30), p555(5, 5, 5)]]
    body = b"".join(
        struct.pack("<HH", *row) for row in vals[::-1]  # bottom-up
    )
    bmp16 = hdr(2, 2, 16, 0, len(body)) + body
    px = multimodal._bmp_pixels(bmp16)
    exp = np.array(
        [[[c * 255 // 31 for c in (31, 0, 16)],
          [c * 255 // 31 for c in (0, 31, 1)]],
         [[c * 255 // 31 for c in (10, 20, 30)],
          [c * 255 // 31 for c in (5, 5, 5)]]],
        dtype=np.uint8,
    )
    assert px is not None and (px == exp).all()
    # BI_BITFIELDS 565 (the common 16-bit wild format)
    m565 = struct.pack("<III", 0xF800, 0x07E0, 0x001F)

    def p565(r, g, bch):
        return (r << 11) | (g << 5) | bch

    v565 = [[p565(31, 0, 16), p565(0, 63, 1)],
            [p565(10, 40, 30), p565(5, 5, 5)]]
    body565 = b"".join(struct.pack("<HH", *row) for row in v565[::-1])
    bf = hdr(2, 2, 16, 3, len(body565), m565) + body565
    px = multimodal._bmp_pixels(bf)
    exp565 = np.array(
        [[(31 * 255 // 31, 0, 16 * 255 // 31),
          (0, 63 * 255 // 63, 1 * 255 // 31)],
         [(10 * 255 // 31, 40 * 255 // 63, 30 * 255 // 31),
          (5 * 255 // 31, 5 * 255 // 63, 5 * 255 // 31)]],
        dtype=np.uint8,
    )
    assert px is not None and (px == exp565).all()
    # BITFIELDS 32-bit with 8-8-8 masks == the BI_RGB 32-bit decode
    m888 = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    rgb = [[(1, 2, 3), (200, 100, 50)]]
    body32 = b"".join(
        struct.pack("<I", (r << 16) | (g << 8) | bch)
        for row in rgb[::-1] for r, g, bch in row
    )
    bf32 = hdr(2, 1, 32, 3, len(body32), m888) + body32
    px = multimodal._bmp_pixels(bf32)
    assert (px == np.array(rgb, dtype=np.uint8)).all()
    # non-contiguous mask → gate
    mbad = struct.pack("<III", 0b101000, 0x07E0, 0x001F)
    assert multimodal._bmp_pixels(
        hdr(2, 2, 16, 3, len(body565), mbad) + body565
    ) is None
    # packed 1/4-bit uncompressed palettized (round 16): MSB-first,
    # rows DWORD-aligned; 5-wide 1-bit exercises the mid-byte row end
    rows1 = [[0, 1, 1, 0, 1], [1, 0, 0, 1, 0]]
    body1 = bytearray()
    for row in rows1[::-1]:  # bottom-up
        acc = 0
        for i, v in enumerate(row):
            acc |= v << (7 - i)
        body1.extend([acc, 0, 0, 0])  # 1 data byte + 3 align bytes
    bmp1 = hdr(5, 2, 1, 0, len(body1), table) + bytes(body1)
    px1 = multimodal._bmp_pixels(bmp1)
    assert px1 is not None and (px1 == pal[np.array(rows1)]).all()
    rows4b = [[0, 3, 2], [1, 0, 3]]
    body4 = bytearray()
    for row in rows4b[::-1]:
        body4.extend([(row[0] << 4) | row[1], row[2] << 4, 0, 0])
    bmp4u = hdr(3, 2, 4, 0, len(body4), table) + bytes(body4)
    px4u = multimodal._bmp_pixels(bmp4u)
    assert px4u is not None and (px4u == pal[np.array(rows4b)]).all()


def test_bmp_32bit_and_palettized(spark):
    """Round 16: the BMP envelope widens to 32-bit BGRX (padding-free,
    X dropped) and 8-bit palettized (BGRA color-table lookup, biClrUsed
    honored) — both decode to the same pixels as their 24-bit twin; an
    index past the color table is corrupt (None), not an IndexError."""
    import struct

    import numpy as np

    def bmp32(rgb, top_down=False):
        h, w = len(rgb), len(rgb[0])
        rows = rgb if top_down else rgb[::-1]
        body = bytearray()
        for row in rows:
            for r, g, bb in row:
                body.extend((bb, g, r, 0xAA))  # X byte is noise
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 32, 0,
            len(body), 0, 0, 0, 0,
        )
        return b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + dib + bytes(body)

    def bmp8(idx_rows, palette, clr_used=0):
        h, w = len(idx_rows), len(idx_rows[0])
        n = clr_used or 256
        table = bytearray()
        for i in range(n):
            r, g, bb = palette[i] if i < len(palette) else (0, 0, 0)
            table.extend((bb, g, r, 0))
        stride = (w + 3) & ~3
        body = bytearray()
        for row in idx_rows[::-1]:  # bottom-up
            body.extend(row)
            body.extend(b"\x00" * (stride - w))
        offset = 54 + len(table)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(body), 0, 0, clr_used, 0,
        )
        return (
            b"BM" + struct.pack("<IHHI", offset + len(body), 0, 0, offset)
            + dib + bytes(table) + bytes(body)
        )

    rgb = [[(10, 20, 30), (200, 150, 100), (0, 255, 7)],
           [(255, 0, 128), (1, 2, 3), (90, 80, 70)]]
    expect = np.array(rgb, dtype=np.uint8)
    for td in (False, True):
        px = multimodal._bmp_pixels(bmp32(rgb, top_down=td))
        assert px is not None and (px == expect).all(), td
    palette = [(10, 20, 30), (200, 150, 100), (0, 255, 7), (255, 0, 128)]
    idx = [[0, 1, 2], [3, 0, 1]]
    exp8 = np.array(palette, dtype=np.uint8)[np.array(idx)]
    # full 256-entry table AND a truncated biClrUsed table
    for cu in (0, 4):
        px = multimodal._bmp_pixels(bmp8(idx, palette, clr_used=cu))
        assert px is not None and (px == exp8).all(), cu
    # index beyond the declared table → corrupt, None
    assert multimodal._bmp_pixels(bmp8([[0, 3, 1]], palette[:2], clr_used=2)) is None
    # cross-format parity through the Arrow kernels
    ppm = b"P6\n3 2\n255\n" + expect.tobytes()
    df = spark.createDataFrame(
        [(1, bmp32(rgb)), (2, bmp8(idx, palette)), (3, ppm)],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 2).collect()}
    assert got[1].resized and got[2].resized
    assert bytes(got[1].payload) == bytes(got[3].payload)


class _JpegWriter:
    """Minimal baseline-JPEG ENCODER for the decoder tests: quant
    tables of all 1s, one canonical Huffman table per class with every
    symbol at one code length (the same canonical assignment the
    decoder rebuilds), MSB-first bit packing with 0xFF byte stuffing.
    DC-only / single-AC blocks make the IDCT analytically checkable."""

    DC_SYMS = list(range(12))
    AC_SYMS = [0x00, 0x11, 0x21, 0xF0, 0x15, 0x06]

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def _code(self, syms, sym):
        length = max(2, (len(syms) + 1).bit_length())
        return syms.index(sym), length

    def bits(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc = self.n = 0

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0

    def dc(self, diff):
        s = abs(diff).bit_length()
        code, ln = self._code(self.DC_SYMS, s)
        self.bits(code, ln)
        if s:
            self.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)

    def ac_coef(self, run, val):
        s = abs(val).bit_length()
        code, ln = self._code(self.AC_SYMS, (run << 4) | s)
        self.bits(code, ln)
        self.bits(val if val >= 0 else val + (1 << s) - 1, s)

    def eob(self):
        code, ln = self._code(self.AC_SYMS, 0x00)
        self.bits(code, ln)

    @classmethod
    def _dht(cls, tc, syms):
        length = max(2, (len(syms) + 1).bit_length())
        counts = [0] * 16
        counts[length - 1] = len(syms)
        return bytes([tc << 4]) + bytes(counts) + bytes(syms)

    @classmethod
    def container(cls, w, h, comps, entropy, sof=0xC0, dri=0):
        """comps: [(cid, hs, vs)]; entropy: the packed scan bytes."""
        import struct

        def seg(marker, payload):
            return bytes([0xFF, marker]) + struct.pack(
                ">H", len(payload) + 2
            ) + payload

        out = bytearray(b"\xff\xd8")
        out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        sof_p = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
        for cid, hs, vs in comps:
            sof_p += bytes([cid, (hs << 4) | vs, 0])
        out += seg(sof, sof_p)
        out += seg(0xC4, cls._dht(0, cls.DC_SYMS))
        out += seg(0xC4, cls._dht(1, cls.AC_SYMS))
        if dri:
            out += seg(0xDD, struct.pack(">H", dri))
        sos_p = bytes([len(comps)])
        for cid, _, _ in comps:
            sos_p += bytes([cid, 0x00])
        sos_p += bytes([0, 63, 0])
        out += seg(0xDA, sos_p)
        out += entropy + b"\xff\xd9"
        return bytes(out)


def _jpeg_idct_ref(coef_natural):
    """Independent reference IDCT (direct double loop over the T.81
    formula) for the analytic test cases."""
    import math

    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    acc += (
                        cu * cv / 4.0 * coef_natural[u][v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x][y] = acc
    return out


def test_jpeg_pixels_stdlib_baseline_decode():
    """Round 15: `_jpeg_pixels` is a REAL stdlib baseline decode —
    hand-built bitstreams with analytically-known IDCTs: flat DC-only
    blocks decode to their exact level, DC prediction chains across
    blocks, a single AC coefficient reproduces the reference IDCT
    pattern, restart markers reset predictors, and out-of-envelope
    variants (progressive, truncated) return None."""
    import numpy as np

    # flat gray 8x8 at level 100: F00 = (100-128)*8 = -224
    w = _JpegWriter()
    w.dc(-224)
    w.eob()
    w.flush()
    jp = _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(w.buf))
    px = multimodal._jpeg_pixels(jp)
    assert px is not None and px.shape == (8, 8, 3)
    assert (px == 100).all()
    hdr = multimodal._parse_media_header(jp)
    assert (hdr["detected_format"], hdr["width"], hdr["height"]) == ("jpeg", 8, 8)
    # DC prediction: 16x8, second block diff +224 -> level 128
    w = _JpegWriter()
    w.dc(-224); w.eob()
    w.dc(224); w.eob()
    w.flush()
    px = multimodal._jpeg_pixels(
        _JpegWriter.container(16, 8, [(1, 1, 1)], bytes(w.buf))
    )
    assert (px[:, :8] == 100).all() and (px[:, 8:] == 128).all()
    # single AC coefficient (zigzag k=1 -> natural F[0][1] = 60)
    w = _JpegWriter()
    w.dc(0)
    w.ac_coef(0, 60)
    w.eob()
    w.flush()
    px = multimodal._jpeg_pixels(
        _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(w.buf))
    )
    coef = [[0] * 8 for _ in range(8)]
    coef[0][1] = 60
    ref = _jpeg_idct_ref(coef)
    expect = np.clip(
        np.floor(np.array(ref) + 128.0 + 0.5), 0, 255
    ).astype(np.uint8)
    assert (px[:, :, 0] == expect).all()
    # restart markers: DRI=1, RST0 between MCUs resets the predictor
    w = _JpegWriter()
    w.dc(-224); w.eob(); w.flush()
    seg0 = bytes(w.buf)
    w = _JpegWriter()
    w.dc(0); w.eob(); w.flush()
    seg1 = bytes(w.buf)
    px = multimodal._jpeg_pixels(
        _JpegWriter.container(
            16, 8, [(1, 1, 1)], seg0 + b"\xff\xd0" + seg1, dri=1
        )
    )
    assert (px[:, :8] == 100).all() and (px[:, 8:] == 128).all()
    # out-of-envelope: progressive SOF2 and truncated entropy
    w = _JpegWriter()
    w.dc(-224); w.eob(); w.flush()
    assert multimodal._jpeg_pixels(
        _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(w.buf), sof=0xC2)
    ) is None
    assert multimodal._jpeg_pixels(
        _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(w.buf)[:1])
    ) is None
    assert multimodal._jpeg_pixels(b"\xff\xd8\xff\xd9") is None


def test_jpeg_color_and_subsampling(spark):
    """Color JPEG decode: 4:4:4 flat-color blocks reproduce the JFIF
    YCbCr→RGB formula exactly; 4:2:0 replicates chroma across the
    2×2 Y blocks of each MCU; a flat JPEG joins resize_media and
    image_stats with results identical to the equivalent P6 (flat
    blocks are lossless through the DCT)."""
    import math

    import numpy as np

    def flat_color(y_lvl, cb_lvl, cr_lvl, sub=False):
        # DC prediction is PER COMPONENT (each has its own predictor),
        # so every component's first block encodes its absolute DC
        w = _JpegWriter()
        if not sub:
            for lvl in (y_lvl, cb_lvl, cr_lvl):
                w.dc((lvl - 128) * 8)
                w.eob()
            w.flush()
            return _JpegWriter.container(
                8, 8, [(1, 1, 1), (2, 1, 1), (3, 1, 1)], bytes(w.buf)
            )
        # 4:2:0: four Y blocks then one Cb and one Cr per MCU
        w.dc((y_lvl - 128) * 8); w.eob()
        for _ in range(3):
            w.dc(0); w.eob()
        w.dc((cb_lvl - 128) * 8); w.eob()
        w.dc((cr_lvl - 128) * 8); w.eob()
        w.flush()
        return _JpegWriter.container(
            16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)], bytes(w.buf)
        )

    y_lvl, cb_lvl, cr_lvl = 120, 100, 180
    exp_r = max(0, min(255, math.floor(y_lvl + 1.402 * (cr_lvl - 128) + 0.5)))
    exp_g = max(0, min(255, math.floor(
        y_lvl - 0.344136 * (cb_lvl - 128) - 0.714136 * (cr_lvl - 128) + 0.5
    )))
    exp_b = max(0, min(255, math.floor(y_lvl + 1.772 * (cb_lvl - 128) + 0.5)))
    jp = flat_color(y_lvl, cb_lvl, cr_lvl)
    px = multimodal._jpeg_pixels(jp)
    assert px.shape == (8, 8, 3)
    assert (px == np.array([exp_r, exp_g, exp_b], dtype=np.uint8)).all()
    # 4:2:0 MCU: same flat color across all 16x16
    px420 = multimodal._jpeg_pixels(flat_color(y_lvl, cb_lvl, cr_lvl, sub=True))
    assert px420.shape == (16, 16, 3)
    assert (px420 == np.array([exp_r, exp_g, exp_b], dtype=np.uint8)).all()
    # resize + stats parity with the equivalent P6
    flat_rgb = bytes([exp_r, exp_g, exp_b]) * 64
    ppm = b"P6\n8 8\n255\n" + flat_rgb
    df = spark.createDataFrame(
        [(1, jp), (2, ppm)], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 2).collect()}
    assert got[1].src_format == "jpeg" and got[1].resized
    assert bytes(got[1].payload) == bytes(got[2].payload)
    st = {r.media_id: r for r in multimodal.image_stats(df).collect()}
    assert st[1].valid
    assert (st[1].mean_r, st[1].mean_g, st[1].mean_b) == (
        float(exp_r), float(exp_g), float(exp_b)
    )
    assert (st[1].min_r, st[1].max_b) == (exp_r, exp_b)


def _progressive_container(w, h, comps, scans, dri=0):
    """Multi-scan SOF2 container for the progressive-decoder tests:
    DQT(all 1s) + SOF2 + the same canonical DC/AC tables as
    `_JpegWriter.container`, then one SOS per scan. ``scans`` entries:
    (scomps=[(cid, td, ta)], ss, se, ah, al, entropy_bytes)."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof_p = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hs, vs in comps:
        sof_p += bytes([cid, (hs << 4) | vs, 0])
    out += seg(0xC2, sof_p)
    out += seg(0xC4, _JpegWriter._dht(0, _JpegWriter.DC_SYMS))
    out += seg(0xC4, _JpegWriter._dht(1, _JpegWriter.AC_SYMS))
    if dri:
        out += seg(0xDD, struct.pack(">H", dri))
    for scomps, ss, se, ah, al, entropy in scans:
        sos_p = bytes([len(scomps)])
        for cid, td, ta in scomps:
            sos_p += bytes([cid, (td << 4) | ta])
        sos_p += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos_p)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _ac_sym(w, sym):
    """Emit an arbitrary AC symbol through the writer's canonical
    AC-table code assignment (for EOBn / newly-nonzero symbols the
    high-level helpers don't cover)."""
    code, ln = w._code(w.AC_SYMS, sym)
    w.bits(code, ln)


def test_jpeg_progressive_decode():
    """Round 16 (closes VERDICT r15 Missing #3, the last named codec
    gap): `_jpeg_pixels` decodes PROGRESSIVE (SOF2) streams through
    the T.81 §G multi-scan machine. Pinned analytically: spectral
    selection reproduces the baseline decode of the same coefficients
    byte-for-byte; DC successive approximation reassembles the exact
    DC value bit by bit; AC successive approximation applies
    correction bits and newly-nonzero insertion per §G.1.2.3; EOB-runs
    span blocks; restarts reset predictors; truncation gates to None."""
    import numpy as np

    # needs 0x04 (AC magnitude-4), 0x10 (EOB1), 0x31 (r=3,s=1) beyond
    # the shared list — per-test writer symbol tables are canonical
    AC = [0x00, 0x11, 0x21, 0xF0, 0x15, 0x06, 0x04, 0x10, 0x31, 0x01]

    def writer():
        w = _JpegWriter()
        w.AC_SYMS = AC
        return w

    def dht_override(container):
        # swap the canonical AC table for this test's symbol list
        old = _JpegWriter._dht(1, _JpegWriter.AC_SYMS)
        new = _JpegWriter._dht(1, AC)
        import struct
        return container.replace(
            bytes([0xFF, 0xC4]) + struct.pack(">H", len(old) + 2) + old,
            bytes([0xFF, 0xC4]) + struct.pack(">H", len(new) + 2) + new,
        )

    # --- A: spectral selection == baseline, same coefficients ---
    # one 8x8 gray block: DC -224 (level 100), AC zigzag-1 = 60
    wb = _JpegWriter()
    wb.dc(-224)
    wb.ac_coef(0, 60)
    wb.eob()
    wb.flush()
    baseline = multimodal._jpeg_pixels(
        _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(wb.buf))
    )
    wd = writer()
    wd.dc(-224)
    wd.flush()
    wa = writer()
    wa.ac_coef(0, 60)
    _ac_sym(wa, 0x00)  # EOB
    wa.flush()
    prog = dht_override(_progressive_container(
        8, 8, [(1, 1, 1)],
        [([(1, 0, 0)], 0, 0, 0, 0, bytes(wd.buf)),
         ([(1, 0, 0)], 1, 63, 0, 0, bytes(wa.buf))],
    ))
    px = multimodal._jpeg_pixels(prog)
    assert px is not None and np.array_equal(px, baseline)

    # --- B: DC successive approximation (level 101, v = -216) ---
    # first scan at Al=4 sends v>>4 = -14; refine bits 1,0,0,0
    wd = writer()
    wd.dc(-14)
    wd.flush()
    refines = []
    for bit in (1, 0, 0, 0):
        wr = writer()
        wr.bits(bit, 1)
        wr.flush()
        refines.append(bytes(wr.buf))
    wa = writer()
    _ac_sym(wa, 0x00)
    wa.flush()
    scans = [([(1, 0, 0)], 0, 0, 0, 4, bytes(wd.buf))]
    for i, rb in enumerate(refines):
        scans.append(([(1, 0, 0)], 0, 0, 4 - i, 3 - i, rb))
    scans.append(([(1, 0, 0)], 1, 63, 0, 0, bytes(wa.buf)))
    px = multimodal._jpeg_pixels(
        dht_override(_progressive_container(8, 8, [(1, 1, 1)], scans))
    )
    assert px is not None and (px == 101).all()

    # --- C+D: AC successive approximation with a newly-nonzero coef ---
    # final coefs: zigzag-1 = 61, zigzag-3 = 2
    # first AC scan at Al=2: sends 61>>2 = 15 at k=1 (k=3 still 0)
    wa = writer()
    wa.ac_coef(0, 15)
    _ac_sym(wa, 0x00)
    wa.flush()
    s_first = bytes(wa.buf)
    # refine Ah=2,Al=1: k1 correction bit (61>>1 & 1 = 0 → but history
    # is 60; emitted bit IS (61>>1)&1 = 0); k3 newly-nonzero +2 = +1<<1
    # after skipping r=1 zero-history coef (k=2); then EOB0
    wr1 = writer()
    _ac_sym(wr1, 0x11)   # r=1, s=1
    wr1.bits(1, 1)       # sign: positive
    wr1.bits(0, 1)       # correction bit for k=1 (bit1 of 61 = 0)
    _ac_sym(wr1, 0x00)   # EOB0 (rest zero)
    wr1.flush()
    # refine Ah=1,Al=0: corrections k1: bit0 of 61 = 1; k3: bit0 of 2=0
    wr0 = writer()
    _ac_sym(wr0, 0x00)   # EOB0 first — all remaining info is corrections
    wr0.bits(1, 1)       # k=1 correction → 60+1 = 61
    wr0.bits(0, 1)       # k=3 correction (no change)
    wr0.flush()
    wd = writer()
    wd.dc(0)
    wd.flush()
    px = multimodal._jpeg_pixels(
        dht_override(_progressive_container(
            8, 8, [(1, 1, 1)],
            [([(1, 0, 0)], 0, 0, 0, 0, bytes(wd.buf)),
             ([(1, 0, 0)], 1, 63, 0, 2, s_first),
             ([(1, 0, 0)], 1, 63, 2, 1, bytes(wr1.buf)),
             ([(1, 0, 0)], 1, 63, 1, 0, bytes(wr0.buf))],
        ))
    )
    # natural positions derived from the decoder's own zigzag table
    zz = multimodal._JPEG_ZIGZAG
    coef = [[0] * 8 for _ in range(8)]
    coef[zz[1] // 8][zz[1] % 8] = 61
    coef[zz[3] // 8][zz[3] % 8] = 2
    ref = _jpeg_idct_ref(coef)
    expect = np.clip(
        np.floor(np.array(ref) + 128.0 + 0.5), 0, 255
    ).astype(np.uint8)
    assert (px[:, :, 0] == expect).all()

    # --- E: EOB-run spans blocks (EOB1 + 1 appended bit = run of 2) ---
    wd = writer()
    wd.dc(-224)
    wd.dc(224)  # second block: level 128
    wd.flush()
    wa = writer()
    _ac_sym(wa, 0x10)  # EOB1
    wa.bits(0, 1)      # appended bit → eobrun = 2
    wa.flush()
    px = multimodal._jpeg_pixels(
        dht_override(_progressive_container(
            16, 8, [(1, 1, 1)],
            [([(1, 0, 0)], 0, 0, 0, 0, bytes(wd.buf)),
             ([(1, 0, 0)], 1, 63, 0, 0, bytes(wa.buf))],
        ))
    )
    assert (px[:, :8] == 100).all() and (px[:, 8:] == 128).all()

    # --- F: restart marker in a DC scan resets the predictor ---
    w1 = writer()
    w1.dc(-224)
    w1.flush()
    w2 = writer()
    w2.dc(0)  # after RST the predictor is 0 again → level 128
    w2.flush()
    # DRI=1 stays in force for the AC scan too → it restarts per block
    acs = []
    for _ in range(2):
        wa = writer()
        _ac_sym(wa, 0x00)
        wa.flush()
        acs.append(bytes(wa.buf))
    px = multimodal._jpeg_pixels(
        dht_override(_progressive_container(
            16, 8, [(1, 1, 1)],
            [([(1, 0, 0)], 0, 0, 0, 0,
              bytes(w1.buf) + b"\xff\xd0" + bytes(w2.buf)),
             ([(1, 0, 0)], 1, 63, 0, 0,
              acs[0] + b"\xff\xd1" + acs[1])],
            dri=1,
        ))
    )
    assert (px[:, :8] == 100).all() and (px[:, 8:] == 128).all()

    # --- G: truncation / malformed still gate to None ---
    assert multimodal._jpeg_pixels(prog[:40]) is None
    assert multimodal._jpeg_pixels(
        dht_override(_progressive_container(8, 8, [(1, 1, 1)], []))
    ) is not None  # scanless: all-zero coefs → flat 128, not a crash


def test_jpeg_progressive_color_parity(spark):
    """Progressive color: an interleaved DC scan + per-component AC
    EOB scans of a flat 4:2:0 image decode IDENTICALLY to the baseline
    encoding, and progressive JPEGs join resize_media / image_stats
    with P6-parity (the envelope no longer gates SOF2)."""
    import numpy as np

    y_lvl, cb_lvl, cr_lvl = 120, 100, 180
    # baseline 4:2:0 reference from the existing color test's encoder
    wb = _JpegWriter()
    wb.dc((y_lvl - 128) * 8); wb.eob()
    for _ in range(3):
        wb.dc(0); wb.eob()
    wb.dc((cb_lvl - 128) * 8); wb.eob()
    wb.dc((cr_lvl - 128) * 8); wb.eob()
    wb.flush()
    base = multimodal._jpeg_pixels(_JpegWriter.container(
        16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)], bytes(wb.buf)
    ))
    # progressive: interleaved DC scan (4 Y blocks, 1 Cb, 1 Cr), then
    # three AC scans that are a single EOB each (flat → no AC energy)
    wd = _JpegWriter()
    wd.dc((y_lvl - 128) * 8)
    for _ in range(3):
        wd.dc(0)
    wd.dc((cb_lvl - 128) * 8)
    wd.dc((cr_lvl - 128) * 8)
    wd.flush()
    ac_scans = []
    for cid, nblocks in ((1, 4), (2, 1), (3, 1)):
        # AC scans are non-interleaved: Y's natural grid is 2x2 blocks
        wa = _JpegWriter()
        for _ in range(nblocks):
            wa.eob()
        wa.flush()
        ac_scans.append(([(cid, 0, 0)], 1, 63, 0, 0, bytes(wa.buf)))
    prog = _progressive_container(
        16, 16, [(1, 2, 2), (2, 1, 1), (3, 1, 1)],
        [([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 0, 0, bytes(wd.buf))]
        + ac_scans,
    )
    px = multimodal._jpeg_pixels(prog)
    assert px is not None and np.array_equal(px, base)
    # envelope: progressive joins resize + stats, byte-parity with P6
    flat_rgb = bytes(base[0, 0]) * 256
    ppm = b"P6\n16 16\n255\n" + flat_rgb
    df = spark.createDataFrame(
        [(1, prog), (2, ppm)], "media_id long, payload binary"
    )
    got = {r.media_id: r for r in multimodal.resize_media(df, 2, 2).collect()}
    assert got[1].src_format == "jpeg" and got[1].resized
    assert bytes(got[1].payload) == bytes(got[2].payload)
    st = {r.media_id: r for r in multimodal.image_stats(df).collect()}
    assert st[1].valid and st[1].mean_r == st[2].mean_r


def test_jpeg_component_order_by_id():
    """ADVICE r16: `_jpeg_pixels` maps Y/Cb/Cr by JFIF component ID
    (1=Y, 2=Cb, 3=Cr), not SOF position — a frame listing components
    out of order decodes to the SAME RGB as the standard ordering, and
    non-JFIF ids gate to None instead of silently mis-mapping."""
    import numpy as np

    y_lvl, cb_lvl, cr_lvl = 120, 100, 180

    def flat(comp_order):
        # entropy blocks are written in SOF/SOS (scan) order; the
        # LEVEL for each block follows the component id it carries
        lvl = {1: y_lvl, 2: cb_lvl, 3: cr_lvl}
        w = _JpegWriter()
        for cid in comp_order:
            w.dc((lvl.get(cid, 128) - 128) * 8)
            w.eob()
        w.flush()
        return _JpegWriter.container(
            8, 8, [(cid, 1, 1) for cid in comp_order], bytes(w.buf)
        )

    standard = multimodal._jpeg_pixels(flat((1, 2, 3)))
    reordered = multimodal._jpeg_pixels(flat((3, 1, 2)))
    assert standard is not None and reordered is not None
    assert np.array_equal(standard, reordered)
    # non-JFIF component ids (e.g. Adobe 'R','G','B'): outside envelope
    assert multimodal._jpeg_pixels(flat((4, 5, 6))) is None


def test_decode_pixels_predetected_format():
    """ADVICE r16: `_decode_pixels` accepts the caller's pre-detected
    format and skips the second header walk — same result either way,
    and an (incorrectly) pre-detected format dispatches to that
    decoder rather than re-sniffing."""
    import numpy as np

    ppm = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    fmt_a, px_a = multimodal._decode_pixels(ppm)
    fmt_b, px_b = multimodal._decode_pixels(ppm, "ppm")
    assert fmt_a == fmt_b == "ppm"
    assert np.array_equal(px_a, px_b)
    # the fmt argument is authoritative: a PPM payload dispatched as
    # "jpeg" hits the JPEG decoder and (correctly) fails to decode
    fmt_c, px_c = multimodal._decode_pixels(ppm, "jpeg")
    assert fmt_c == "jpeg" and px_c is None


def test_ivf_topk_multi_query_null_guard(spark, tmp_path):
    """ADVICE r16: q_ivf_topk_multi raises a clear ValueError (not a
    TypeError mid-list-comprehension) when a fixture query id is
    missing or carries a NULL embedding."""
    import pytest as _pytest

    from datapipelineetl_spark.queries_batch22 import q_ivf_topk_multi

    src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # drop qid 0's row and NULL out qid 1's embedding
    crippled = src.filter("vec_id <> 0").withColumn(
        "embedding",
        F.when(F.col("vec_id") == 1, F.lit(None)).otherwise(F.col("embedding")),
    )
    crippled.write.parquet(str(tmp_path / "embeddings.parquet"))
    with _pytest.raises(ValueError, match="non-NULL embeddings"):
        q_ivf_topk_multi(spark, str(tmp_path))


def _encode_avi(jpeg_frames, usec_per_frame=40000, w=8, h=8):
    """Minimal MJPEG-AVI MUXER for the frame-sample tests: RIFF
    'AVI ' with an hdrl LIST (avih main header carrying the frame
    interval, frame count and dimensions) and a movi LIST of 00dc
    chunks, word-aligned."""
    import struct

    def chunk(cid, payload):
        out = cid + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            out += b"\x00"
        return out

    def lst(fourcc, payload):
        return chunk(b"LIST", fourcc + payload)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame, 0, 0, 0, len(jpeg_frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_sample_frames_real_mjpeg_avi(spark):
    """Round 15: frame_sample_plan gains its EXECUTION leg —
    sample_frames demuxes a real MJPEG AVI (stdlib RIFF walk), decodes
    every Nth frame through the real baseline-JPEG decoder, and emits
    P6 frames/thumbnails with container-derived timestamps; header
    decode reports the AVI's dimensions and duration; non-AVI payloads
    are valid=false observations."""
    def flat_jpeg(level):
        w = _JpegWriter()
        w.dc((level - 128) * 8)
        w.eob()
        w.flush()
        return _JpegWriter.container(8, 8, [(1, 1, 1)], bytes(w.buf))

    levels = [100, 128, 200, 60]
    avi = _encode_avi([flat_jpeg(v) for v in levels], usec_per_frame=40000)
    df = spark.createDataFrame(
        [(1, avi), (2, b"not a video"), (3, None)],
        "media_id long, payload binary",
    )
    out = multimodal.sample_frames(df, every_n=2).collect()
    mine = sorted(
        [r for r in out if r.media_id == 1], key=lambda r: r.frame_index
    )
    assert [r.frame_index for r in mine] == [0, 2]
    assert [r.frame_ts_ms for r in mine] == [0, 80]  # 40 ms/frame
    for r, lvl in zip(mine, (100, 200)):
        assert r.valid and (r.frame_width, r.frame_height) == (8, 8)
        assert bytes(r.payload) == b"P6\n8 8\n255\n" + bytes([lvl] * 192)
    others = {r.media_id: r for r in out if r.media_id != 1}
    assert not others[2].valid and others[2].frame_index is None
    assert not others[3].valid
    # thumbnailing goes through the shared pixel-center gather
    thumb = multimodal.sample_frames(
        df.filter("media_id = 1"), every_n=4, width=2, height=2
    ).collect()
    assert len(thumb) == 1 and thumb[0].frame_index == 0
    assert bytes(thumb[0].payload) == b"P6\n2 2\n255\n" + bytes([100] * 12)
    # header decode: real avih walk (dims + duration)
    hdr = multimodal.decode_headers(
        spark.createDataFrame([(1, avi)], "media_id long, payload binary")
    ).collect()[0]
    assert (hdr.detected_format, hdr.width, hdr.height) == ("avi", 8, 8)
    assert hdr.duration_ms == 160  # 4 frames x 40 ms
    # a corrupt frame inside a good container -> per-frame valid=false
    bad = _encode_avi([flat_jpeg(100), b"\xff\xd8junk"], usec_per_frame=40000)
    rows = multimodal.sample_frames(
        spark.createDataFrame([(9, bad)], "media_id long, payload binary"),
        every_n=1,
    ).collect()
    by_idx = {r.frame_index: r for r in rows}
    assert by_idx[0].valid and not by_idx[1].valid
    with pytest.raises(ValueError, match="every_n"):
        multimodal.sample_frames(df, every_n=0)
    with pytest.raises(ValueError, match="together"):
        multimodal.sample_frames(df, width=2)
