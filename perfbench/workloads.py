"""The benchmark workloads.

Each workload writes its seeded inputs as parquet (``build``), then runs
iterations over them. An
untraced iteration calls the package the way a user does; a traced
iteration calls the public functions one layer at a time, materializing
each layer's output before the next starts, inside a ``Tracer`` span per
layer. Both check their outputs and return an ``Outcome``. Layer figures
that need extra Spark jobs are read by ``diagnose`` after the traced
iteration's clock has stopped, and checks that need a reference run of
the package by ``verify`` once the measurement is over.
"""

from __future__ import annotations

import dataclasses
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from map_reduced_approach_for_vietnamese_long_document_summarization_spark.functions.text import (
    clean_thinking_tokens,
    ws_token_count,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.metrics.aggregate import best_by_metric
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.metrics.evaluate import (
    evaluate_summaries,
    summary_statistics,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.metrics.judge import (
    OpenAICompatibleJudge,
    llm_judge_scores,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators._ckpt import (
    persistent_rdd_ids,
    release_rdds,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.chunking import chunk_documents
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.collapse import (
    collapse_until_fits,
    reduce_groups,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.components import (
    connected_components,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.contamination import (
    ngram_contamination,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.dedup import (
    exact_dedup,
    lsh_band_table,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    unpersist_inputs,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.report import (
    corpus_quality_report,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.operators.similarity import (
    cosine_topk,
    ivf_fixed_centroids,
    semantic_dedup,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.summarize import (
    MockCritic,
    MockSummarizer,
    OllamaCritic,
    OllamaSummarizer,
    hierarchical_summarize,
    iterative_refine_summarize,
    mapreduce_critique_summarize,
    mapreduce_summarize,
    truncated_summarize,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.summarize import critique as critique_mod
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.summarize import (
    hierarchical as hierarchical_mod,
)
from map_reduced_approach_for_vietnamese_long_document_summarization_spark.summarize.pipeline import (
    run_evaluation_pipeline,
)

import gen
from spans import count_calls, count_checkpoints
from stub import LLMStub

# Summaries keep K tokens (odd, so MockCritic asks for refines); chunks of
# at most CHUNK tokens collapse eight to a group while a doc's summaries
# exceed TOKEN_MAX. A 1k-token doc maps to ~4 chunk summaries (no collapse);
# a 40k-token doc maps to ~150 (2 rounds).
K, CHUNK, OVERLAP, TOKEN_MAX = 41, 400, 20, 8 * 41
CRITIQUE_ITERS = 2
APPROACH_CFG = {
    "truncated": {"max_input_tokens": 8000},
    "mapreduce": {"chunk_size": CHUNK, "chunk_overlap": OVERLAP, "token_max": TOKEN_MAX},
    "iterative": {"chunk_size": 2 * CHUNK, "chunk_overlap": OVERLAP},
    "mapreduce_critique": {
        "chunk_size": CHUNK, "chunk_overlap": OVERLAP, "token_max": TOKEN_MAX,
        "max_critique_iterations": CRITIQUE_ITERS,
    },
}
HIER_CFG = {"max_depth": 2, "chunk_size": CHUNK, "chunk_overlap": OVERLAP, "token_max": TOKEN_MAX}
INPUT_FILES = 8
ERROR_PREFIX = "__ERROR__"


@dataclasses.dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    checks: dict = dataclasses.field(default_factory=dict)  # name -> (attempted, failed)
    layer: dict = dataclasses.field(default_factory=dict)  # extra per-layer metrics
    counts: dict = dataclasses.field(default_factory=dict)  # must repeat exactly across iterations
    llm_docs: int = 0
    stub_busy_s: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the driver, its JVM and Python workers
    steal_share: float = 0.0  # share of the host's CPU time stolen by the hypervisor
    leaked: int = 0  # persisted RDDs left after the iteration

    def check(self, name: str, attempted: int, failed: int) -> None:
        self.checks[name] = (attempted, failed)
        self.attempted += attempted
        self.failed += failed


def _write(path: str, columns: dict, n_files: int = INPUT_FILES, order=None) -> None:
    """Write ``columns`` as ``n_files`` parquet files, row i to file
    ``order[i] % n_files`` (default: round-robin)."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    slot = order if order is not None else list(range(n))
    for f in range(n_files):
        rows = [i for i in range(n) if slot[i] % n_files == f]
        if rows:
            tbl = pa.table({k: [v[i] for i in rows] for k, v in columns.items()})
            pq.write_table(tbl, f"{path}/part-{f:03d}.parquet")


def _noop(df) -> None:
    """Materialize every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def release_all(spark) -> int:
    """Drop every cached relation and persisted RDD; return how many RDDs
    were still persisted before the drop."""
    sc = spark.sparkContext
    ids = persistent_rdd_ids(sc)
    spark.catalog.clearCache()
    release_rdds(sc, persistent_rdd_ids(sc), blocking=True)
    return len(ids)


def summary_checks(out: Outcome, rows, doc_ids: set, approaches: list[str]) -> None:
    """One non-error summary row per doc per approach."""
    by = {a: [] for a in approaches}
    for r in rows:
        by.setdefault(r["approach"], []).append(r)
    for a in approaches:
        got = by[a]
        bad = sum(1 for r in got if r["summary"] is None or r["summary"].startswith(ERROR_PREFIX))
        missing = len(doc_ids - {r["doc_id"] for r in got})
        extra = len(got) - len({r["doc_id"] for r in got})
        out.check(f"summaries.{a}", len(doc_ids), bad + missing + extra)


def with_approach(df, approach: str):
    return df.select("doc_id", F.lit(approach).alias("approach"), "summary")


class _LongDocs:
    """Shared input side of the two long-document workloads."""

    n_docs = 0

    def __init__(self, spark, seed: int, cores: int):
        self.spark, self.seed, self.cores = spark, seed, cores
        self._diag: dict = {}

    def build(self, path: str) -> dict:
        c = gen.long_corpus(self.seed, self.n_docs)
        lengths = [len(t.split()) for _, t in c["docs"]]
        rank = sorted(range(len(lengths)), key=lambda i: lengths[i])
        order = [0] * len(lengths)
        for r, i in enumerate(rank):  # balanced files: length ranks dealt round-robin
            order[i] = r
        ids = [d for d, _ in c["docs"]]
        _write(f"{path}/docs", {"doc_id": ids, "text": [t for _, t in c["docs"]]}, order=order)
        _write(f"{path}/refs", {"doc_id": ids, "reference": [r for _, r in c["refs"]]}, order=order)
        _write(f"{path}/trees", {"doc_id": ids, "tree_json": [t for _, t in c["trees"]]}, order=order)
        self.path, self.doc_ids = path, set(ids)
        return {
            "docs": len(ids),
            "tokens": sum(lengths),
            "length_quantiles": gen.quantiles(lengths),
            "fingerprint": gen.fingerprint(c),
        }

    def sources(self):
        r = self.spark.read.parquet
        return r(f"{self.path}/docs"), r(f"{self.path}/refs"), r(f"{self.path}/trees")

    def verify(self) -> tuple[int, int]:
        return 0, 0

    def traced_mapreduce(self, tr, docs, summarizer, on_collapse=None):
        """``mapreduce_summarize``, one layer at a time: chunking, the map
        (``summarizer``), then collapse rounds and the final reduce."""
        with tr.span("chunking"):
            chunks = _materialize(chunk_documents(docs, CHUNK, OVERLAP, "text", ("doc_id",)))
        with tr.span("summarizer"):
            mapped = _materialize(
                summarizer.summarize_df(chunks, "chunk", "text").select(
                    "doc_id", "chunk_idx", "text", ws_token_count("text").alias("n_tokens")
                )
            )
        stats: dict = {}
        with tr.span("collapse"):
            before = on_collapse() if on_collapse else 0
            collapsed = collapse_until_fits(mapped, summarizer, TOKEN_MAX, stats=stats)
            final = reduce_groups(
                collapsed.withColumn("group_id", F.lit(0)), summarizer, key_cols=("doc_id", "group_id")
            )
            mr = _materialize(
                docs.select("doc_id")
                .join(final.select("doc_id", clean_thinking_tokens("text").alias("summary")), "doc_id", "left")
                .select("doc_id", F.coalesce("summary", F.lit("")).alias("summary"))
            )
            stats["groups_reduced"] = (on_collapse() - before) if on_collapse else 0
        self._diag["chunks"] = chunks
        return mr, stats

    def traced_critique(self, tr, docs, summarizer, critic):
        with tr.span("critique"), count_calls(critique_mod, "_critique_collapse_level") as levels:
            cr = _materialize(
                mapreduce_critique_summarize(
                    docs, summarizer, critic, chunk_size=CHUNK, chunk_overlap=OVERLAP,
                    token_max=TOKEN_MAX, max_critique_iterations=CRITIQUE_ITERS,
                )
            )
        return cr, levels["calls"]

    def diagnose(self, out: Outcome) -> None:
        chunks = self._diag.pop("chunks", None)
        if chunks is not None:
            out.layer["chunking.chunks_per_doc"] = chunks.count() / self.n_docs

    def close(self) -> None:
        pass


class LongDocSweep(_LongDocs):
    """Engine-bound: ``run_evaluation_pipeline`` over truncated, mapreduce,
    iterative and mapreduce_critique with the JVM-expression
    ``MockSummarizer`` into a fresh parquet ``out_dir``, with the metrics,
    statistics and best-model tables materialized, then
    ``hierarchical_summarize`` over each doc's section tree."""

    name = "longdoc_sweep"
    n_docs = 3
    approaches = ["truncated", "mapreduce", "iterative", "mapreduce_critique"]

    def run(self, tr, it_dir: str) -> Outcome:
        out = Outcome()
        s = MockSummarizer(K)
        if tr is None:
            docs, refs, trees = self.sources()
            res = run_evaluation_pipeline(
                docs, refs, {"mock": s}, self.approaches, APPROACH_CFG, out_dir=f"{it_dir}/summaries"
            )
            rows = res.summaries.select("doc_id", "approach", "summary").collect()
            # statistics and best-model plans embed the metrics plan: cache it
            # once so ROUGE runs once, not three times
            metrics = _materialize(res.metrics)
            n_metrics = metrics.count()
            n_tables = len(res.statistics.collect()) + len(res.best_models.collect())
            metrics.unpersist()
            hier = hierarchical_summarize(trees, s, **HIER_CFG).collect()
        else:
            with tr.span("sources"):
                docs, refs, trees = (_materialize(d) for d in self.sources())
            with tr.span("summarizer"):
                tr_sum = _materialize(truncated_summarize(docs, s, **APPROACH_CFG["truncated"]))
            mr, stats = self.traced_mapreduce(tr, docs, s)
            out.layer["collapse.rounds"] = out.counts["collapse.rounds"] = stats["rounds"]
            critic = CountingMockCritic(self.spark.sparkContext)
            cr, levels = self.traced_critique(tr, docs, s, critic)
            out.layer["critique.rounds"] = out.counts["critique.rounds"] = levels
            n_crit = critic.critiques.value
            out.layer["critique.refine_share"] = critic.refines.value / n_crit if n_crit else 0.0
            with tr.span("grouped"):
                itr = _materialize(iterative_refine_summarize(docs, s, **APPROACH_CFG["iterative"]))
            with tr.span("hierarchical"), count_calls(hierarchical_mod, "_collapse_level") as lv:
                hi = _materialize(hierarchical_summarize(trees, s, **HIER_CFG))
            out.layer["hierarchical.levels"] = lv["calls"]
            written = {}
            for a, df in zip(self.approaches, (tr_sum, mr, itr, cr)):
                with tr.span("sink"):
                    df.write.parquet(f"{it_dir}/summaries/approach={a}")
                written[a] = self.spark.read.parquet(f"{it_dir}/summaries/approach={a}")
            out.layer["sink.bytes_written"] = sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(f"{it_dir}/summaries") for f in fs
            )
            n_metrics, n_tables = self.traced_scoring(tr, written, refs)
            rows = [
                {"doc_id": r["doc_id"], "approach": a, "summary": r["summary"]}
                for a, df in written.items()
                for r in df.collect()
            ]
            hier = hi.collect()
        n_app = len(self.approaches)
        out.check("metrics.rows", n_app * self.n_docs, abs(n_metrics - n_app * self.n_docs))
        out.check("statistics.rows", 2 * n_app, abs(2 * n_app - n_tables))
        summary_checks(out, rows, self.doc_ids, self.approaches)
        summary_checks(out, [{**r.asDict(), "approach": "hierarchical"} for r in hier], self.doc_ids, ["hierarchical"])
        return out

    def traced_scoring(self, tr, summaries: dict, refs) -> tuple[int, int]:
        """evaluate + aggregate over ``{approach: (doc_id, summary)}``; returns
        (metric rows, statistics + best-model rows)."""
        with tr.span("evaluate"):
            parts = [
                evaluate_summaries(
                    df.select("doc_id", F.lit(a).alias("approach"), F.lit("mock").alias("model"), "summary"), refs
                ).select("doc_id", "approach", "model", "rouge1_f", "rouge2_f", "rougeL_f")
                for a, df in summaries.items()
            ]
            metrics = parts[0]
            for p in parts[1:]:
                metrics = metrics.unionByName(p)
            metrics = _materialize(metrics)
        with tr.span("aggregate"):
            stats = summary_statistics(metrics, ["approach", "model"])
            best = best_by_metric(
                stats.select("approach", "model", F.col("rouge1_f_mean").alias("score")), "score", "model", ["approach"]
            ).collect()
            stats = stats.collect()
        return metrics.count(), len(stats) + len(best)


class LongDocLLM(_LongDocs):
    """LLM-bound: mapreduce and mapreduce_critique through
    ``OllamaSummarizer`` / ``OllamaCritic``, then ``llm_judge_scores`` with
    ``OpenAICompatibleJudge`` over both, all against the in-process stub.
    The stub replies with the mock's rule, so the map-reduce summaries must
    equal ``MockSummarizer``'s for the same docs (``verify``)."""

    name = "longdoc_llm"
    n_docs = 3
    approaches = ["mapreduce", "mapreduce_critique"]

    def __init__(self, spark, seed: int, cores: int):
        super().__init__(spark, seed, cores)
        self.stub = LLMStub(slots=cores, k=K, base_ms=3.0, per_token_us=10.0).start()
        self.llm_mr: list[dict] = []  # each iteration's stub-backed map-reduce summaries

    def verify(self) -> tuple[int, int]:
        """(attempted, failed): every iteration's map-reduce summaries equal
        the ``MockSummarizer`` run's."""
        docs, _, _ = self.sources()
        mock = mapreduce_summarize(docs, MockSummarizer(K), CHUNK, OVERLAP, TOKEN_MAX).collect()
        want = {r["doc_id"]: r["summary"] for r in mock}
        release_all(self.spark)
        return len(self.llm_mr) * self.n_docs, sum(got.get(d) != want[d] for got in self.llm_mr for d in want)

    def clients(self):
        s = OllamaSummarizer(base_url=self.stub.url, prompt_template="{text}", max_new_tokens=K)
        judge = OpenAICompatibleJudge(self.stub.url, api_key="bench", model="stub")
        return s, OllamaCritic(s), judge

    def run(self, tr, it_dir: str) -> Outcome:
        out = Outcome()
        s, critic, judge = self.clients()
        self.stub.reset()
        if tr is None:
            docs, refs, _ = self.sources()
            mr = _materialize(mapreduce_summarize(docs, s, CHUNK, OVERLAP, TOKEN_MAX))
            cr = _materialize(
                mapreduce_critique_summarize(
                    docs, s, critic, chunk_size=CHUNK, chunk_overlap=OVERLAP,
                    token_max=TOKEN_MAX, max_critique_iterations=CRITIQUE_ITERS,
                )
            )
            both = with_approach(mr, "mapreduce").unionByName(with_approach(cr, "mapreduce_critique"))
            judged = llm_judge_scores(both.join(refs, "doc_id"), judge).select("status").collect()
        else:
            with tr.span("sources"):
                docs, refs, _ = (_materialize(d) for d in self.sources())
            requests = lambda: self.stub.snapshot()["requests"]  # noqa: E731
            mr, stats = self.traced_mapreduce(tr, docs, s, on_collapse=requests)
            out.layer["collapse.rounds"] = out.counts["collapse.rounds"] = stats["rounds"]
            out.layer["collapse.groups_reduced"] = stats["groups_reduced"]
            cr, levels = self.traced_critique(tr, docs, s, critic)
            out.layer["critique.rounds"] = out.counts["critique.rounds"] = levels
            both = with_approach(mr, "mapreduce").unionByName(with_approach(cr, "mapreduce_critique"))
            with tr.span("judge"):
                judged = _materialize(llm_judge_scores(both.join(refs, "doc_id"), judge)).select("status").collect()
        rows = both.collect()
        if tr is None:  # the benchmark's own caches; what stays persisted is the package's
            mr.unpersist()
            cr.unpersist()
        snap = self.stub.snapshot()
        n_judged = len(self.approaches) * self.n_docs
        n_failed_judge = sum(1 for r in judged if r["status"] != "ok")
        out.check("judge.rows", n_judged, n_failed_judge + abs(len(judged) - n_judged))
        summary_checks(out, rows, self.doc_ids, self.approaches)
        self.llm_mr.append({r["doc_id"]: r["summary"] for r in rows if r["approach"] == "mapreduce"})
        n_judge = snap["by_path"].get("/chat/completions", 0)
        out.llm_docs, out.stub_busy_s = self.n_docs, snap["busy_s"]
        out.counts.update({"llm_calls": snap["requests"], "llm_prompt_tokens": snap["prompt_tokens"]})
        if tr is not None:
            out.counts["summarizer.requests"] = snap["requests"] - n_judge
            out.layer.update(
                {
                    "summarizer.requests": snap["requests"] - n_judge,
                    "summarizer.busy_s": snap["busy_s"],
                    "summarizer.max_inflight": snap["max_inflight"],
                    "summarizer.latency_p50_ms": snap["latency_p50_ms"],
                    "summarizer.latency_p99_ms": snap["latency_p99_ms"],
                    "summarizer.dup_prompt_ratio": snap["repeated"] / snap["requests"] if snap["requests"] else 0.0,
                    "judge.requests": n_judge,
                    "judge.failed": n_failed_judge,
                }
            )
        return out

    def close(self) -> None:
        self.stub.stop()


class CountingMockCritic(MockCritic):
    """``MockCritic`` that counts its critique and refine calls in Spark
    accumulators (the calls run in Python workers)."""

    def __init__(self, sc):
        self.critiques = sc.accumulator(0)
        self.refines = sc.accumulator(0)

    def critique(self, summary, reference):
        self.critiques.add(1)
        return super().critique(summary, reference)

    def refine(self, summary, critique, reference):
        self.refines.add(1)
        return super().refine(summary, critique, reference)


class CorpusCuration:
    """Shuffle-bound: dedup -> components -> contamination -> report ->
    semantic dedup + exact top-k on short documents."""

    name = "corpus_curation"
    top_k, n_queries = 5, 64

    def __init__(self, spark, seed: int, cores: int):
        self.spark, self.seed, self.cores = spark, seed, cores
        self._diag: dict = {}

    def build(self, path: str) -> dict:
        c = gen.curation_corpus(self.seed)
        e = gen.embeddings(self.seed)
        _write(f"{path}/corpus", {"doc_id": [d for d, _ in c["docs"]], "text": [t for _, t in c["docs"]]})
        _write(f"{path}/eval", {"doc_id": [d for d, _ in c["eval"]], "text": [t for _, t in c["eval"]]}, n_files=1)
        vec_ids = list(range(len(e["vecs"])))
        _write(f"{path}/emb", {"vec_id": vec_ids, "embedding": [list(map(float, v)) for v in e["vecs"]]})
        self.path, self.c, self.e = path, c, e
        rng = np.random.default_rng(self.seed)
        self.queries = sorted(int(q) for q in rng.choice(sorted(e["mates"]), self.n_queries, replace=False))
        self.n_docs = len(c["docs"])
        lengths = [len(t.split()) for _, t in c["docs"]]
        return {
            "docs": self.n_docs,
            "tokens": sum(lengths),
            "length_quantiles": gen.quantiles(lengths),
            "planted_mutants": len(c["origin"]),
            "viral_clusters": len(c["viral"]),
            "exact_copies": len(c["exact_of"]),
            "eval_docs": len(c["eval"]),
            "eval_contaminated": len(c["contaminated"]),
            "vectors": len(vec_ids),
            "planted_vector_mates": sum(len(m) for m in e["mates"].values()),
            "fingerprint": gen.fingerprint({"c": c, "e": e}),
        }

    def sources(self):
        r = self.spark.read.parquet
        return r(f"{self.path}/corpus"), r(f"{self.path}/eval"), r(f"{self.path}/emb")

    def verify(self) -> tuple[int, int]:
        return 0, 0

    def _queries(self, emb):
        return emb.filter(F.col("vec_id").isin(self.queries)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )

    def run(self, tr, it_dir: str) -> Outcome:
        out = Outcome()
        centroids = ivf_fixed_centroids(self.e["vecs"].shape[1], n_lists=8)
        if tr is None:
            corpus, evals, emb = self.sources()
            exact = exact_dedup(corpus)
            pairs = minhash_dedup_pairs(exact, threshold=0.5)
            comp = connected_components(pairs, nodes=exact, id_col="doc_id").collect()
            unpersist_inputs(pairs)
            flagged = ngram_contamination(exact, evals, threshold=0.5).select("test_id").distinct().collect()
            _noop(corpus_quality_report(corpus))
            kept = semantic_dedup(emb, centroids, threshold=0.95)
            _noop(kept)
            unpersist_inputs(kept)
            topk = cosine_topk(self._queries(emb), emb, k=self.top_k).collect()
        else:
            with tr.span("sources"):
                corpus, evals, emb = (_materialize(d) for d in self.sources())
            with tr.span("dedup"):
                exact = _materialize(exact_dedup(corpus))
                sigs = _materialize(minhash_signatures(exact, include_missing=False))
                cands = _materialize(minhash_lsh_candidates(sigs))
                pairs = _materialize(cands.filter(F.col("est_jaccard") >= 0.5))
            sc = self.spark.sparkContext
            with tr.span("components"), count_checkpoints() as ck:
                before = persistent_rdd_ids(sc)
                comp = connected_components(pairs, nodes=exact, id_col="doc_id").collect()
                pinned = persistent_rdd_ids(sc) - before
            out.layer["components.rounds"] = out.counts["components.rounds"] = ck["lazy"]
            out.layer["components.leaked_rdds"] = len(pinned)
            with tr.span("contamination"):
                flagged = _materialize(ngram_contamination(exact, evals, threshold=0.5)).select("test_id").distinct().collect()
            with tr.span("report"):
                _materialize(corpus_quality_report(corpus))
            with tr.span("similarity"):
                kept = _materialize(semantic_dedup(emb, centroids, threshold=0.95))
            with tr.span("similarity"):
                topk = _materialize(cosine_topk(self._queries(emb), emb, k=self.top_k)).collect()
            # the exact top-k shuffles every scored (query, vector) pair into its window
            self._diag = {"sigs": sigs, "cands": cands, "kept": kept, "topk_pairs": tr.spans[-1]["shuffle_records"]}
            mates = self.e["mates"]
            found = {(r["query_id"], r["neighbor_id"]) for r in topk}
            hits = sum((q, m) in found for q in self.queries for m in mates[q])
            out.layer["similarity.recall_at_k"] = hits / sum(len(mates[q]) for q in self.queries)
        self._check(out, comp, flagged, topk)
        return out

    def diagnose(self, out: Outcome) -> None:
        """Candidate-pair quality, the hottest LSH band bucket and the
        within-cell pairs semantic dedup compared, read from the traced
        iteration's cached outputs."""
        d, self._diag = self._diag, {}
        if not d:
            return
        fam = self._family()
        cand_rows = d["cands"].select("id1", "id2").collect()
        out.layer["dedup.candidate_pairs"] = out.counts["dedup.candidate_pairs"] = len(cand_rows)
        true = sum(1 for r in cand_rows if fam.get(r["id1"], r["id1"]) == fam.get(r["id2"], r["id2"]))
        out.layer["dedup.candidate_precision"] = true / len(cand_rows) if cand_rows else 0.0
        out.layer["dedup.max_band_bucket"] = (
            lsh_band_table(d["sigs"]).groupBy("band_idx", "band_hash").count().agg(F.max("count")).first()[0]
        )
        # semantic_dedup's own cached cell assignment: each cell compares its pairs
        assigned = d["kept"]._persisted_inputs[0]
        cells = [r["n"] for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()]
        out.layer["similarity.pairs_scored"] = d["topk_pairs"] + sum(n * (n - 1) // 2 for n in cells)

    def _family(self) -> dict:
        """doc id -> planted origin id (exact copies map through their source)."""
        origin = self.c["origin"]
        fam = dict(origin)
        for copy, src in self.c["exact_of"].items():
            fam[copy] = origin.get(src, src)
        return fam

    def _check(self, out: Outcome, comp, flagged, topk) -> None:
        label = {r["doc_id"]: r["component"] for r in comp}
        origin = self.c["origin"]
        out.check(
            "components.mutants_with_origin",
            len(origin),
            sum(1 for m, o in origin.items() if label.get(m) is None or label.get(m) != label.get(o)),
        )
        flagged_ids = {r["test_id"] for r in flagged}
        planted = self.c["contaminated"]
        out.check("contamination.planted_flagged", len(planted), len(planted - flagged_ids))
        out.check("contamination.clean_not_flagged", len(self.c["eval"]) - len(planted), len(flagged_ids - planted))
        vecs = self.e["vecs"].astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        got: dict[int, list] = {}
        for r in sorted(topk, key=lambda r: (r["query_id"], r["rnk"])):
            got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["sim"]))
        bad = 0
        for q in self.queries:
            sims = unit @ unit[q]
            sims[q] = -np.inf
            want = np.argsort(-sims, kind="stable")[: self.top_k]
            g = got.get(q, [])
            ok = len(g) == self.top_k and all(
                n == int(w) or abs(s - sims[w]) < 1e-9 for (n, s), w in zip(g, want)
            )
            bad += not ok
        out.check("similarity.topk_matches_numpy", len(self.queries), bad)

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (LongDocSweep, LongDocLLM, CorpusCuration)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
