"""Property-based checks for the corpus operators: greedy packing must
respect the token budget and match a sequential reference on randomized
inputs; hash-gated sampling must be monotone in the fraction (nested
samples) and exactly reproducible."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from datapipelineetl_spark.operators import corpus

_sizes = st.lists(
    st.integers(min_value=1, max_value=700), min_size=1, max_size=40
)


@settings(max_examples=10, deadline=None)
@given(_sizes, st.integers(min_value=100, max_value=1000))
def test_pack_greedy_matches_sequential_reference(spark, sizes, budget):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(sizes)], ["doc_id", "n_tokens"]
    )
    # n_shards=1 → one sequential pass, directly comparable to the
    # reference loop below (multi-shard is the same loop per shard,
    # covered by test_pack_greedy_never_exceeds_budget)
    out = corpus.pack_greedy(df, "doc_id", "n_tokens", budget=budget, n_shards=1)
    got = {r.doc_id: r.pack_id for r in out.collect()}

    expect, fill, pack = {}, 0, 0
    for i, t in enumerate(sizes):
        if fill and fill + t > budget:
            pack += 1
            fill = 0
        fill += t
        expect[i] = pack
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True),
    st.floats(min_value=0.0, max_value=1.0),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_sample_fraction_nested_and_reproducible(spark, keys, f1, f2):
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    lo, hi = sorted((f1, f2))
    small = {r.k for r in corpus.sample_fraction(df, lo, "k").collect()}
    big = {r.k for r in corpus.sample_fraction(df, hi, "k").collect()}
    assert small <= big  # same salt → larger fraction is a superset
    again = {r.k for r in corpus.sample_fraction(df, lo, "k").collect()}
    assert small == again  # pure function of (key, salt, fraction)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=2, max_value=40), min_size=1, max_size=6),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
def test_split_documents_reconstructs_original_tokens(spark, lengths, max_tokens, overlap):
    """Dropping each chunk's first `overlap` tokens (except chunk 0) and
    concatenating must reproduce the document exactly — i.e. chunking
    loses nothing and overlaps are exactly the declared width."""
    if overlap >= max_tokens:
        overlap = max_tokens - 1
    docs = [
        (i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = corpus.split_documents(df, max_tokens=max_tokens, overlap=overlap)
    by_doc: dict[int, list[tuple[int, str]]] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
    for doc_id, text in docs:
        chunks = [t for _, t in sorted(by_doc[doc_id])]
        rebuilt = chunks[0].split()
        for ch in chunks[1:]:
            toks = ch.split()
            assert rebuilt[-overlap:] == toks[:overlap] if overlap else True
            rebuilt.extend(toks[overlap:])
        assert rebuilt == text.split(), f"doc {doc_id} lost/dup'd tokens"


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_contamination_pairs_match_bruteforce(spark, data):
    """The bucketed cross-corpus collision join must find EXACTLY the
    pairs a brute-force n-gram intersection finds."""
    words = [f"w{i}" for i in range(12)]
    def mk_doc():
        n = data.draw(st.integers(min_value=3, max_value=10))
        return " ".join(data.draw(st.sampled_from(words)) for _ in range(n))
    train = [(100 + i, mk_doc()) for i in range(4)]
    test = [(200 + i, mk_doc()) for i in range(3)]
    n = 3
    tdf = spark.createDataFrame(train, ["doc_id", "text"])
    edf = spark.createDataFrame(test, ["doc_id", "text"])
    got = {
        (r.test_id, r.train_id): r.n_shared
        for r in corpus.contamination_pairs(tdf, edf, n=n).collect()
    }
    def grams(text):
        toks = text.lower().split()
        if len(toks) <= n:
            return {" ".join(toks[: max(len(toks), 1)])} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    expect = {}
    for te_id, te_text in test:
        for tr_id, tr_text in train:
            shared = len(grams(te_text) & grams(tr_text))
            if shared:
                expect[(te_id, tr_id)] = shared
    assert got == expect


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),    # key
                st.integers(min_value=0, max_value=2),    # partition
                st.integers(min_value=0, max_value=99),   # value
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_merge_upsert_matches_dict_model(spark, tmp_path_factory, batches):
    """A sequence of keyed merges (keys free to move partitions) must end
    in exactly the state of a dict keyed by k — the reference model of
    SCD-1 semantics."""
    from datapipelineetl_spark.sinks import maintenance

    store = str(tmp_path_factory.mktemp("merge_prop") / "store")
    model: dict[int, tuple[str, int]] = {}
    for batch in batches:
        # dedupe within the batch (last-wins via seq = position)
        rows = [
            (f"p{p}", k, v, i) for i, (k, p, v) in enumerate(batch)
        ]
        df = spark.createDataFrame(rows, ["part", "k", "v", "seq"])
        maintenance.merge_upsert(
            spark, store, df, ["k"], partition_cols=["part"],
            order_col="seq", keys_partition_stable=False,
        )
        for i, (k, p, v) in enumerate(batch):
            model[k] = (f"p{p}", v)
    got = {
        r.k: (r.part, r.v) for r in spark.read.parquet(store).collect()
    }
    assert got == model


_doc_text = st.text(
    alphabet=st.sampled_from(list("ab c\nd.!")), min_size=0, max_size=60
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_doc_text, min_size=1, max_size=8))
def test_repetition_stats_matches_python_reference(spark, texts):
    """repetition_stats' four ratios equal a direct Python computation of
    the same definitions on arbitrary text (whitespace runs, empty lines,
    punctuation, NULL-free by construction here — the NULL case is pinned
    separately)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.dup_line_frac, r.dup_line_char_frac, r.dup_2gram_frac)
        for r in corpus.repetition_stats(df, gram_ns=(2,)).collect()
    }
    _assert_repetition_reference(rows, got)


def _assert_repetition_reference(rows, got):

    import re

    for i, t in rows:
        lines = [l.strip() for l in t.split("\n")]
        lines = [l for l in lines if l != ""]
        dl = len(lines) - len(set(lines))
        dl_frac = round(dl / max(len(lines), 1), 4)
        chars = sum(len(l) for l in lines)
        dchars = chars - sum(len(l) for l in dict.fromkeys(lines))
        dchar_frac = round(dchars / max(chars, 1), 4)
        toks = re.split(r"\s+", t.strip().lower())
        if len(toks) >= 2:
            grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
            dg = round((len(grams) - len(set(grams))) / max(len(grams), 1), 4)
        else:
            dg = 0.0
        assert got[i] == (dl_frac, dchar_frac, dg), (i, t, got[i])


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.05, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    )
)
def test_split_corpus_partitions_for_any_fractions(spark, weights):
    """split_corpus is a PARTITION for arbitrary normalized fractions:
    exhaustive (every key assigned), disjoint by construction (one
    column), deterministic, and each band's rate tracks its fraction."""
    total = sum(weights)
    fracs = {f"s{i}": w / total for i, w in enumerate(weights)}
    # normalize rounding drift into the last band
    drift = 1.0 - sum(fracs.values())
    fracs[f"s{len(weights) - 1}"] += drift
    df = spark.range(300).withColumnRenamed("id", "k")
    out = corpus.split_corpus(df, fracs, key_col="k")
    got = {r.k: r.split for r in out.collect()}
    assert len(got) == 300
    assert set(got.values()) <= set(fracs)
    by = {}
    for s_ in got.values():
        by[s_] = by.get(s_, 0) + 1
    for name, f in fracs.items():
        # generous bound: the band count is deterministic per weights
        # vector, so a tight sigma bound would let hypothesis find (and
        # cache) a rare adversarial draw — 5 sigma + 8 keeps the check
        # meaningful (a swapped band or off-by-10x fraction still fails)
        # without statistical flakes
        assert by.get(name, 0) <= 300 * f + 5 * (300 * f * (1 - f)) ** 0.5 + 8


_norm_fragments = st.sampled_from(
    [
        "a", "b", " ", ".", "\n",
        "\r\n", "\r",                      # line endings
        "Ã©", "â€™", "â€œ", "â€”",          # mojibake digraphs
        "Ã", "â€", "â",                     # bare prefixes (must pass through)
        "e\u0301", "o\u0308",               # combining pairs (NFC targets)
        "\u200b", "\ufeff",                 # zero-width / BOM
        "\x07", "\x1f", "\x9d",            # C0 / C1 controls
        "\u00a0",                           # NBSP
    ]
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_norm_fragments, max_size=25).map("".join),
                min_size=1, max_size=6))
def test_normalize_text_matches_python_reference(spark, texts):
    """normalize_text equals a direct Python replay of the same pipeline
    (mojibake table longest-first, unicodedata NFC, CRLF fold,
    zero-width/control strip, NBSP->space) on arbitrary fragment soup —
    including bare mojibake PREFIXES, which must pass through unless a
    full mapped digraph forms."""
    import re
    import unicodedata

    from datapipelineetl_spark.operators import text as text_ops

    def ref(t):
        for bad in sorted(text_ops.MOJIBAKE_MAP, key=len, reverse=True):
            t = t.replace(bad, text_ops.MOJIBAKE_MAP[bad])
        t = unicodedata.normalize("NFC", t)
        t = t.replace("\r\n", "\n").replace("\r", "\n")
        t = re.sub("[\u200b\u200c\u200d\ufeff]", "", t)
        t = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "", t)
        return t.replace("\u00a0", " ")

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.text
           for r in text_ops.normalize_text(df).collect()}
    for i, t in rows:
        assert got[i] == ref(t), (i, ascii(t), ascii(got[i]), ascii(ref(t)))


@settings(max_examples=10, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**6),
               min_size=1, max_size=60),
       st.integers(min_value=1, max_value=7))
def test_shuffle_corpus_matches_python_reference(spark, keys, n_shards):
    """shuffle_corpus (shard, pos) equals the md5-hash reference
    permutation computed in pure Python for arbitrary key sets and
    shard counts."""
    import hashlib

    df = spark.createDataFrame([(k,) for k in keys], ["doc_id"])
    out = corpus.shuffle_corpus(
        df, key_col="doc_id", n_shards=n_shards, salt="s"
    )
    got = {r.doc_id: (r.shard, r.pos) for r in out.collect()}

    def h(k):
        return int(hashlib.md5(f"{k}s".encode()).hexdigest()[:15], 16)

    expect = {}
    by_shard = {}
    for k in keys:
        by_shard.setdefault(h(k) % n_shards, []).append(k)
    for s, ks in by_shard.items():
        for pos, k in enumerate(sorted(ks, key=lambda k: (h(k), k)), 1):
            expect[k] = (s, pos)
    assert got == expect


_words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=5), min_size=1, max_size=15
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_words, min_size=1, max_size=4),
       st.integers(min_value=0, max_value=6))
def test_train_bpe_matches_reference_on_random_corpora(spark, docs_words, n_merges):
    """Distributed BPE == the sequential reference on RANDOM corpora:
    the pair-count weighting, (count desc, pair) tiebreak, </w>
    handling, and left-to-right overlap rule hold for inputs nobody
    hand-picked (including 1-char words whose first merge involves the
    end marker, and repeated-letter words with overlapping pairs)."""
    from tests.test_text_dedup_similarity import _ref_bpe

    from datapipelineetl_spark.operators import text as text_ops

    corpus_texts = [" ".join(ws) for ws in docs_words]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], ["doc_id", "text"]
    )
    merges, words = text_ops.train_bpe(df, n_merges=n_merges)
    ref_merges, ref_syms = _ref_bpe(corpus_texts, n_merges)
    assert merges == ref_merges
    got = {r.word: list(r.syms) for r in words.collect()}
    assert got == ref_syms
