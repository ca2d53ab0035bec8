"""Expression-only (JVM) spellings of the Arrow text kernels, logic
unchanged from the ``impl="jvm"`` paths the package no longer ships:
the independent parity references every ``*_kernel_matches_jvm`` test
compares the single shipped implementation against. ``bpe_segment``
is the chained-fold form of ``text.bpe_segment``'s Arrow kernel, and
``cluster_pairs`` is the iterative min-label propagation that
``dedup.cluster_pairs``' union-find contraction replaced, each kept as
its parity reference."""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelineetl_spark.operators import sketch, text
from datapipelineetl_spark.operators.dedup import MINHASH_COEFFS, MINHASH_P


def ngram_hashes(df, id_col="doc_id", text_col="text", n=8, gram_col="__g",
                 drop_empty=False) -> DataFrame:
    g = F.array_distinct(text.shingles(text_col, n))
    out = df.withColumn("__gs", g).select(
        F.col(id_col),
        F.explode_outer(F.transform(F.col("__gs"), text.token_hash60)).alias(gram_col),
    ).filter(F.col(gram_col).isNotNull())
    if drop_empty:
        # md5("")[:15] as the 60-bit int — the phantom gram's constant
        empty_hash = int(hashlib.md5(b"").hexdigest()[:15], 16)
        out = out.filter(F.col(gram_col) != empty_hash)
    return out


def repetition_stats(df, id_col="doc_id", text_col="text",
                     gram_ns=(2, 3)) -> DataFrame:
    txt = F.coalesce(F.col(text_col), F.lit(""))
    raw_lines = F.split(txt, "\n")
    # full whitespace strip, NOT F.trim (ASCII spaces only); a lambda,
    # not a bare function reference — transform calls f(element, index)
    lines_expr = F.filter(
        F.transform(raw_lines, lambda l: F.regexp_replace(l, r"^\s+|\s+$", "")),
        lambda l: l != "",
    )
    out = df.withColumn("__lines", lines_expr).withColumn(
        "__dlines", F.array_distinct(F.col("__lines"))
    )
    lines, dlines = F.col("__lines"), F.col("__dlines")
    n_lines = F.size(lines)
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    line_chars = chars(lines)
    out = out.withColumn(
        "dup_line_frac",
        F.round((n_lines - F.size(dlines)) / F.greatest(n_lines, F.lit(1)), 4).cast("double"),
    )
    out = out.withColumn(
        "dup_line_char_frac",
        F.round(
            (line_chars - chars(dlines))
            / F.greatest(line_chars, F.lit(1)).cast("double"),
            4,
        ),
    )
    for n in gram_ns:
        # shingles() pads short docs to one window; an n-token-or-shorter
        # doc has no real n-gram repeats, so clamp via the token count
        out = out.withColumn("__grams", text.shingles(text_col, n)).withColumn(
            "__ntok", F.size(text.tokens(txt))
        )
        grams, ntok = F.col("__grams"), F.col("__ntok")
        n_grams = F.when(ntok >= n, F.size(grams)).otherwise(F.lit(0))
        n_dist = F.when(ntok >= n, F.size(F.array_distinct(grams))).otherwise(F.lit(0))
        out = out.withColumn(
            f"dup_{n}gram_frac",
            F.round((n_grams - n_dist) / F.greatest(n_grams, F.lit(1)), 4).cast("double"),
        ).drop("__grams", "__ntok")
    return out.drop("__lines", "__dlines")


def _dsir_grams(col: Column) -> Column:
    # unigrams + word bigrams; the degenerate shingles of sub-2-token
    # docs (the lone token / the empty string) are filtered so a
    # 1-token doc doesn't double-count itself
    uni = text.tokens(col)
    bi = F.filter(text.shingles(col, 2), lambda g: (g != "") & ~g.rlike(r"^\S+$"))
    return F.concat(uni, bi)


def dsir_model(raw, target, text_col="text", n_buckets=4096) -> DataFrame:
    def dist(frame: DataFrame, name: str) -> DataFrame:
        buckets = frame.select(
            F.explode(_dsir_grams(F.col(text_col))).alias("__g")
        ).select(
            F.pmod(text.token_hash60(F.col("__g")), F.lit(n_buckets)).alias("__b")
        )
        return buckets.groupBy("__b").agg(F.count(F.lit(1)).alias(name))

    return (
        dist(raw, "__raw")
        .join(dist(target, "__tgt"), "__b", "full")
        .fillna({"__raw": 0, "__tgt": 0})
    )


def dsir_weights(df, target, id_col="doc_id", text_col="text", n_buckets=4096,
                 alpha=1.0, out="dsir_weight") -> DataFrame:
    """``dsir_score(df, dsir_model(df, target))`` with the expression-side
    gram/bucket explode on both halves."""
    model = dsir_model(df, target, text_col=text_col, n_buckets=n_buckets)
    totals = model.agg(
        F.coalesce(F.sum("__raw"), F.lit(0)).alias("__raw_total"),
        F.coalesce(F.sum("__tgt"), F.lit(0)).alias("__tgt_total"),
    )
    doc_grams = df.select(
        F.col(id_col),
        F.explode_outer(_dsir_grams(F.coalesce(F.col(text_col), F.lit("")))).alias("__g"),
    ).withColumn(
        "__b",
        F.when(
            F.col("__g").isNotNull(),
            F.pmod(text.token_hash60(F.col("__g")), F.lit(n_buckets)),
        ),
    )
    scored = (
        doc_grams.join(F.broadcast(model), "__b", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "__lr",
            F.when(
                F.col("__g").isNotNull(),
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


def minhash_signature(df, text_col="text", out="minhash",
                      num_hashes=16) -> DataFrame:
    hs = F.transform(
        text.tokens(text_col, distinct=True),
        lambda t: text.token_hash60(t) % MINHASH_P,
    )
    sig = F.array(
        *[
            F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P))
            for a, b in MINHASH_COEFFS[:num_hashes]
        ]
    )
    return df.withColumn(out, sig)


def bloom_flag_contaminated(corpus, bitset, id_col="doc_id", text_col="text",
                            n=8, k=2, hex_width=sketch.BLOOM_HEX_WIDTH) -> dict:
    """{id: (n_grams, n_bloom_hits, bloom_contaminated)}: the gram
    positions come from the expression-side gram/md5 construction; the
    bit test runs in plain Python on the collected rows."""
    grams = sketch._distinct_grams(corpus, text_col, n)
    # compact: all k slices fit in the 60-bit md5 prefix, one long per gram
    compact = k * hex_width <= 15
    if compact:
        per_gram = F.transform(grams, text.token_hash60)
    else:
        per_gram = F.transform(
            F.transform(grams, F.md5),
            lambda m: sketch._positions_from_md5(m, k, hex_width),
        )
    mask = 16**hex_width - 1
    bits = bytes(bitset)

    def hit(g) -> bool:
        ps = ([(g >> 4 * (15 - hex_width * (j + 1))) & mask for j in range(k)]
              if compact else g)
        return all(bits[p >> 3] & (1 << (p & 7)) for p in ps)

    out = {}
    for r in corpus.select(F.col(id_col), per_gram.alias("__pos")).collect():
        hits = sum(hit(g) for g in r["__pos"])
        out[r[id_col]] = (len(r["__pos"]), hits, int(hits > 0))
    return out


def with_winnowing_fingerprints(df, text_col="text", out="winnow_fps", k=5,
                                window=4) -> DataFrame:
    norm = F.lower(F.col(text_col))
    n_grams = F.length(norm) - k + 1
    # sequence(1, n) with n < 1 generates a DESCENDING sequence — guard
    # every branch explicitly instead of relying on greatest() clamps.
    hs_expr = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: text.token_hash60(norm.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # materialize the k-gram hash array once per row: referenced raw from
    # the window-min lambda it would re-evaluate at every window position
    tmp = f"__{out}_hs"
    df2 = df.withColumn(tmp, hs_expr)
    hs = F.col(tmp)
    n_hs = F.size(hs)
    mins = (
        F.when(
            n_hs >= window,
            F.transform(
                F.sequence(F.lit(1), n_hs - window + 1),
                lambda w: F.array_min(F.slice(hs, w, window)),
            ),
        )
        .when(n_hs >= 1, F.array(F.array_min(hs)))
        .otherwise(F.lit(None).cast("array<long>"))
    )
    return df2.withColumn(
        out, F.coalesce(F.array_sort(F.array_distinct(mins)), F.array().cast("array<long>"))
    ).drop(tmp)


def with_simhash(df, text_col="text", out="simhash", bits=32) -> DataFrame:
    toks = text.tokens(text_col, distinct=True)
    hs = F.transform(toks, text.token_hash60)
    # one aggregate accumulates every per-bit ones-count: `bits` separate
    # filter() calls would re-hash every token `bits` times
    counts = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("long") for b in range(bits)]
            ),
            lambda a, x: a + x,
        ),
    )
    tmp_c, tmp_t = f"__{out}_counts", f"__{out}_total"
    df2 = df.withColumn(tmp_c, counts).withColumn(tmp_t, F.size(toks))
    sig: Column = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(tmp_c)[b] * 2 > F.col(tmp_t), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return df2.withColumn(out, sig).drop(tmp_c, tmp_t)


def bpe_segment(df, merges, text_col="text", out="pieces") -> DataFrame:
    """The character split, then one ``aggregate`` fold per merge
    chained over a narrow column: no shuffle, no Python."""
    word_syms = F.transform(
        text.tokens(text_col),
        lambda w: F.concat(F.split(w, ""), F.array(F.lit(text._BPE_EOW))),
    )

    # a closure factory, NOT default-arg lambdas: PySpark infers the
    # higher-order function's arity from the Python signature, and
    # `lambda s, _a=a: ...` reads as a 2/3-arg (element, index) lambda
    def _apply(a: str, b: str):
        return lambda s: text._bpe_merge_fold(s, a, b)

    df = df.withColumn("__wsyms", word_syms)
    for m in merges:
        df = df.withColumn("__wsyms", F.transform(F.col("__wsyms"), _apply(m[0], m[1])))
    return df.withColumn(out, F.flatten(F.col("__wsyms"))).drop("__wsyms")


def cluster_pairs(pairs, id_a="id_a", id_b="id_b", max_iter=20,
                  steps_per_round=4) -> DataFrame:
    """Unrolled min-label propagation: each step every node adopts the
    smallest label among itself and its neighbors, ``steps_per_round``
    steps per checkpointed round, until a round changes no label."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        return (
            edges.join(lbl, edges.dst == lbl.node)
            .select(F.col("src").alias("node"), "label")
            .unionByName(lbl.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    for _ in range(max_iter):
        old = labels.select(F.col("node").alias("__on"), F.col("label").alias("__ol"))
        new_labels = labels
        for _ in range(steps_per_round):
            new_labels = step(new_labels)
        new_labels = (
            new_labels.join(old, new_labels.node == F.col("__on"))
            .select("node", "label", F.col("__ol").alias("__old"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(
            F.count(F.when(F.col("label") != F.col("__old"), F.lit(1))).alias("n")
        ).first()[0]
        labels = new_labels.drop("__old")
        if not changed:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
