"""``corpus_prep``: the stage sequence of ``examples/prepare_training_corpus.py``
over a seeded corpus with a stated near-duplicate share, contamination
share and language mix.

Every stage's output is materialized (``localCheckpoint``) inside its own
span before the next stage reads it, so each stage is timed on its own
and no stage recomputes an earlier one. One loop step is one full pass.
Checks: survivor and token counts repeat exactly in every pass of the
run, and the token-shard read-back matches the written manifest.
"""

from __future__ import annotations

import time

import numpy as np

from benchmark import gen, stats
from benchmark.eventlog import driver_ms, in_span, totals
from benchmark.workload import Workload

STAGES = (
    "prepare", "decontaminate", "sketch", "rules", "ppl_tiers", "budget", "split",
    "chunk_pack", "zorder_write", "encode_pack", "token_shards_write", "bpe",
    "token_shards_read",
)
FILTERS = ("prepare", "decontaminate", "rules", "ppl_tiers", "budget", "split")
TOKENS_PER_DOC_BUDGET = 30  # token budget = this × input docs


class CorpusPrep(Workload):
    name = "corpus_prep"
    latency_kind = "one full pipeline pass"
    items_kind = "input documents"

    def setup(self) -> None:
        from datapipelineetl_spark import catalog

        self.rng = np.random.default_rng(self.seed)
        self.profile = gen.DocProfile()
        pdf, self.props = gen.documents(self.rng, self.profile)
        self.data_dir = self.bench.fresh_dir("corpus", "tables")
        pdf.to_parquet(f"{self.data_dir}/documents.parquet", index=False)
        self.docs = catalog.load(self.spark, self.data_dir, "documents")
        self.n_docs = len(pdf)
        self.passes = 0
        self.counts: list[dict] = []
        self.stage_s: dict[str, list[float]] = {s: [] for s in STAGES}

    def _stage(self, name: str, layer: str, fn):
        """Run one stage in its span and time it; returns its result."""
        t0 = time.perf_counter()
        with self.bench.span(layer, name):
            out = fn()
        dt = time.perf_counter() - t0
        self.stage_s[name].append(dt)
        return out

    def _pass(self) -> dict:
        from pyspark.sql import functions as F

        from datapipelineetl_spark.operators import corpus, sketch, text
        from datapipelineetl_spark.sinks import layout, tensor

        spark, docs = self.spark, self.docs
        out_dir = self.bench.fresh_dir("corpus", "out")
        n: dict = {"input": self.n_docs}

        def keep(df, key):
            df = df.localCheckpoint(eager=True)
            n[key] = df.count()
            return df

        clean = self._stage("prepare", "corpus", lambda: keep(corpus.prepare_corpus(
            docs, min_quality=0.5, near_dup_threshold=0.7, max_bucket_size=50,
            normalize=True).select("doc_id", "text"), "prepare"))

        def decontaminate():
            cut = docs.agg(F.expr("percentile(doc_id, 0.9)")).first()[0]
            drop = corpus.contaminated_ids(clean, docs.filter(F.col("doc_id") > cut), n=8,
                                           max_bucket_size=50, side="train")
            return keep(clean.join(drop, "doc_id", "anti"), "decontaminate")
        decon = self._stage("decontaminate", "corpus", decontaminate)

        def monitor():
            grid = sketch.countmin_sketch(decon, depth=3, width=64)
            probes = (decon.select(F.explode(text.tokens("text")).alias("token"))
                      .groupBy("token").count().orderBy(F.desc("count"), "token").limit(3)
                      .select("token"))
            hot = sketch.countmin_estimate(grid, probes).collect()
            est = sketch.hll_distinct(decon.withColumn("__all", F.lit("corpus")), "__all", "text")
            n["hll_estimate"] = est.first()["hll_estimate"]
            n["heavy_hitters"] = len(hot)
        self._stage("sketch", "sketch", monitor)

        def rules():
            ruled = text.gopher_rules(decon, stopwords=("the", "a"), annotate=True)
            ruled = corpus.flag_blocklisted(ruled.drop("kept"), ["spam-token"]).withColumnRenamed("kept", "bl_kept")
            ruled = text.quality_linear(ruled, annotate=True)
            return keep(ruled.filter(
                (F.col("r_word_count") + F.col("r_mean_word_len") + F.col("r_symbol_ratio")
                 + F.col("r_bullet_lines") + F.col("r_ellipsis_lines") + F.col("r_alpha_words") >= 6)
                & (F.col("bl_kept") == 1)).select("doc_id", "text"), "rules")
        ruled = self._stage("rules", "text", rules)

        tiered = self._stage("ppl_tiers", "text", lambda: keep(text.perplexity_buckets(
            ruled.join(docs.select("doc_id", "lang"), "doc_id"), group_col="lang", n_buckets=3)
            .filter(F.col("ppl_bucket") < 2).select("doc_id", "text"), "ppl_tiers"))

        budget = TOKENS_PER_DOC_BUDGET * self.n_docs
        budgeted = self._stage("budget", "corpus", lambda: keep(corpus.select_until_token_budget(
            text.with_token_stats(text.with_quality_score(tiered)), budget, "n_tokens",
            "quality_score").select("doc_id", "text"), "budget"))

        train = self._stage("split", "corpus", lambda: keep(corpus.split_corpus(
            budgeted, {"train": 0.95, "val": 0.05}, key_col="doc_id")
            .filter(F.col("split") == "train").drop("split"), "split"))

        def chunk_pack():
            chunks = corpus.split_documents(train, max_tokens=64, overlap=16)
            chunks = text.with_token_stats(chunks.withColumnRenamed("chunk_text", "text")).withColumn(
                "chunk_key", F.col("doc_id") * 10_000 + F.col("chunk_idx")).localCheckpoint(eager=True)
            packed = corpus.pack_greedy(
                chunks.select("chunk_key", "doc_id", "chunk_idx", "text", "n_tokens"),
                "chunk_key", "n_tokens", budget=1024, n_shards=32)
            return chunks, keep(packed, "packed_chunks")
        chunks, packed = self._stage("chunk_pack", "corpus", chunk_pack)

        def zorder():
            addressed = packed.join(corpus.shuffle_corpus(
                packed.select("pack_id").distinct(), key_col="pack_id", n_shards=4, salt="epoch0"),
                "pack_id")
            layout.zorder_write(addressed, out_dir + "/packs", ["pack_id", "doc_id"], n_files=8)
            n["packs"] = spark.read.parquet(out_dir + "/packs").select("pack_id").distinct().count()
        self._stage("zorder_write", "layout", zorder)

        chunk_docs = chunks.select(F.col("chunk_key").alias("doc_id"), "text")

        def encode_pack():
            vocab = text.build_vocab(chunk_docs)
            encoded = text.encode_tokens(chunk_docs, vocab)
            return keep(corpus.pack_sequences(encoded, budget=1024, id_col="doc_id", n_shards=8),
                        "token_packs")
        tensors = self._stage("encode_pack", "text", encode_pack)

        def write_shards():
            addr = tensors.join(corpus.shuffle_corpus(
                tensors.select("pack_id"), key_col="pack_id", n_shards=4, salt="epoch0"), "pack_id")
            manifest = tensor.write_token_shards(addr, out_dir + "/bin").collect()
            n["shards"] = len(manifest)
            n["tokens"] = sum(m.n_tokens for m in manifest)
        self._stage("token_shards_write", "tensor", write_shards)

        def bpe():
            merges, _ = text.train_bpe(chunk_docs, n_merges=12)
            n["bpe_merges"] = len(merges)
        self._stage("bpe", "text", bpe)

        def read_shards():
            back = tensor.read_token_shards(spark, out_dir + "/bin")
            n["tokens_read"] = back.select(F.sum(F.size("token_ids")).cast("long")).first()[0]
        self._stage("token_shards_read", "tensor", read_shards)
        return n

    def step(self) -> None:
        t0 = time.perf_counter()
        n = self.attempt(self._pass, "pipeline pass")
        if n is None:
            return
        dt = time.perf_counter() - t0
        self.out.busy_s += dt
        self.latency(dt * 1e3)
        self.out.items += self.n_docs
        self.passes += 1
        self.check(n["tokens_read"] == n["tokens"],
                   f"shard read-back {n['tokens_read']} tokens != manifest {n['tokens']}")
        if self.counts:
            self.check(n == self.counts[0], f"pass counts {n} != first pass {self.counts[0]}")
        self.counts.append(n)
        self.out.quality.append(1.0)

    def finish(self) -> None:
        from datapipelineetl_spark.operators import dedup, text

        if self.counts:
            self.props["counts"] = self.counts[0]
        self.props["stage_s"] = {k: round(stats.median(v), 3) for k, v in self.stage_s.items() if v}
        if not self.bench.tracing:
            return
        # dedup.pair_yield: the near-dup operator prepare_corpus runs,
        # called on the same normalized input, without and with verify
        norm = text.normalize_text(self.docs, "text")
        kw = dict(threshold=0.7, max_bucket_size=50)
        with self.bench.span("dedup", "near_dup_pairs"):
            self.candidates = dedup.near_dup_pairs(norm, verify=False, **kw).count()
            self.kept_pairs = dedup.near_dup_pairs(norm, verify=True, **kw).count()

    def layers(self, trace, measure_start: float) -> dict[str, float]:
        passes = max(1, self.passes)
        jobs = [j for j in trace.tagged(self.name)
                if j.tag[1] != "dedup" and j.submit_ms >= measure_start * 1e3]
        t = totals(jobs)
        driver = sum(driver_ms(s.start, s.end, [j for j in in_span(jobs, s.start, s.end)
                                                if j.tag[2] == s.call])
                     for s in self.bench.spans if s.layer != "dedup")
        out = {
            "corpus.jobs": t["jobs"] / passes,
            "corpus.shuffle_write_bytes": t["shuffle_write_bytes"] / passes,
            "corpus.driver_ms": driver / passes,
            "corpus.driver_result_bytes": t["result_bytes"] / passes,
            "kernels.python_ms": t["python_ms"] / passes,
            "kernels.arrow_rows": t["python_rows"] / passes,
            "dedup.pair_yield": self.kept_pairs / self.candidates if getattr(self, "candidates", 0) else 0.0,
        }
        for s in STAGES:
            out[f"corpus.stage_s.{s}"] = stats.median(self.stage_s[s]) if self.stage_s[s] else 0.0
        c = self.counts[0] if self.counts else {}
        prev = "input"
        for s in FILTERS:
            out[f"corpus.survivor_ratio.{s}"] = c.get(s, 0) / c[prev] if c.get(prev) else 0.0
            prev = s
        return out
