"""The retrieval side of the curate_retrieve workload: query batches
over a fixed generated corpus (clustered embeddings plus text) with a
persisted IVF index built during set-up. Each batch runs
``bm25_top_docs``, ``ivf_topk_persisted``, ``rrf_fuse`` over those two
legs, and ``mmr_topk``. One operation is one batch."""

from __future__ import annotations

import math
import os
import re
import time
from collections import Counter

import numpy as np

import gen
from harness import Ops, fresh_dir, median

CORPUS = 2_000
DIM = 32
CLUSTERS = 16
NPROBE = 4
QUERIES = 8  # per batch
K = 10
MMR_K = 2
MMR_SHORTLIST = 20
MIN_ANN_RECALL = 0.8  # per batch; the IVF index gets ~0.95 on this data
LEGS = ("bm25", "ann", "rrf", "mmr")


def bm25_stats(texts):
    """(term frequencies, doc lengths, document frequencies) per doc."""
    tf = [Counter(t for t in re.split(r"\s+", x.lower()) if t) for x in texts]
    return tf, [sum(c.values()) for c in tf], Counter(t for c in tf for t in c)


def bm25_reference(stats, queries, k, k1=1.2, b=0.75):
    """Top-k (doc_id, score) per query under the engine's BM25
    (Lucene idf, score rounded to 6 decimals, doc_id tie-break)."""
    tf, dl, df = stats
    n = len(tf)
    avgdl = sum(dl) / n
    out = {}
    for qid, terms in queries.items():
        scores = {}
        for d, c in enumerate(tf):
            s = 0.0
            hit = False
            for t in terms:
                if t in c:
                    hit = True
                    idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    sat = c[t] * (k1 + 1.0) / (c[t] + k1 * (1.0 - b + b * dl[d] / avgdl))
                    s += round(idf * sat, 9)
            if hit:
                scores[d] = round(s, 6)
        out[qid] = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return out


class Retrieval:
    def __init__(self, sp, work: str, seed: int):
        self.sp, self.spark, self.work, self.seed = sp, sp.spark, work, seed

    def input_digest(self, seed: int) -> str:
        vecs, texts, *_ = gen.embeddings(seed, CORPUS, DIM, CLUSTERS)
        return gen.digest(gen.write_embedding_corpus(
            fresh_dir(os.path.join(self.work, "digest")), vecs, texts))

    def setup(self, rep: int) -> str:
        return self._build(os.path.join(self.work, f"retrieve-{rep}"), CORPUS)

    def _build(self, path: str, n: int) -> str:
        """Write an ``n``-vector corpus file and build its persisted IVF index."""
        from automated_data_pipeline_spark.operators import similarity

        d = fresh_dir(path)
        vecs, texts, _labels, centres, words = gen.embeddings(self.seed, n, DIM, CLUSTERS)
        self.vecs, self.centres, self.words = vecs, centres, words
        self.bm25_stats = bm25_stats(texts)
        corpus_path = os.path.join(d, "corpus")
        corpus_file = gen.write_embedding_corpus(corpus_path, vecs, texts)
        self.corpus = self.spark.read.parquet(corpus_path)
        self.docs = self.corpus.select(self.corpus.vec_id.alias("doc_id"), "text")
        self.index = os.path.join(d, "ivf")
        assigned, cent = similarity.ivf_index(self.corpus, n_clusters=CLUSTERS, seed=self.seed)
        similarity.write_ivf_index(assigned, cent, self.index)
        self.batch = 0
        self.problems: list[str] = []
        self.recall_ann: list[float] = []
        self.recall_hybrid: list[float] = []
        return gen.digest(corpus_file)

    def op(self, ops: Ops, check: bool = True, tracer=None) -> dict:
        """Run the next query batch. With ``check``, ``res["verify"]``
        checks the outputs when called, outside the operation."""
        from automated_data_pipeline_spark.operators import retrieval, similarity

        qv, terms = gen.query_batch(self.seed, self.batch, QUERIES, self.centres, self.words)
        self.batch += 1
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in qv[i]]) for i in range(QUERIES)], "qid int, qe array<float>"
        )
        qterms = {i: terms[i] for i in range(QUERIES)}
        ops.attempt()
        res: dict = {"queries": QUERIES, "leg_s": {}, "jobs": {}}
        sc = self.sp.sc

        def leg(name, fn):
            if tracer is not None and tracer.enabled:
                group = f"perfbench-{name}-{self.batch}"
                sc.setJobGroup(group, name)
            t = time.perf_counter()
            try:
                return fn()
            finally:
                res["leg_s"][name] = time.perf_counter() - t
                if tracer is not None and tracer.enabled:
                    sc.setJobGroup("", "")
                    res["jobs"][name] = len(self.sp.job_ids(group))

        t0 = time.perf_counter()
        try:
            bm25 = leg("bm25", lambda: retrieval.bm25_top_docs(
                self.spark, self.docs, qterms, k=K).collect())
            ann = leg("ann", lambda: similarity.ivf_topk_persisted(
                self.spark, self.index, qdf, k=K, nprobe=NPROBE, exclude_self=False,
            ).select("qid", "vec_id", "cosine", "rank").collect())

            def fuse():
                l1 = self.spark.createDataFrame(
                    [(r["query_id"], r["doc_id"], r["rnk"]) for r in bm25],
                    "qid int, vec_id long, rnk long")
                l2 = self.spark.createDataFrame(
                    [(r["qid"], r["vec_id"], r["rank"]) for r in ann],
                    "qid int, vec_id long, rnk long")
                return retrieval.rrf_fuse([l1, l2], "qid", "vec_id", k=K).collect()

            rrf = leg("rrf", fuse)
            mmr = leg("mmr", lambda: retrieval.mmr_topk(
                self.corpus.select("vec_id", "embedding"), qdf, k=MMR_K,
                shortlist=MMR_SHORTLIST, exclude_self=False).collect())
        except Exception as exc:  # noqa: BLE001 — a failed batch is counted, not fatal
            ops.fail(f"batch {self.batch}: {type(exc).__name__}: {exc}")
            res["secs"] = time.perf_counter() - t0
            return res
        res["secs"] = time.perf_counter() - t0
        if check:
            res["verify"] = lambda: self._check(qv, qterms, bm25, ann, rrf, mmr)
        return res

    def _check(self, qv, qterms, bm25, ann, rrf, mmr) -> None:
        sims = qv.astype(np.float64) @ self.vecs.astype(np.float64).T
        exact = {q: set(np.argsort(-sims[q], kind="stable")[:K].tolist()) for q in range(QUERIES)}
        by_q = lambda rows, qk, ik: {q: [r[ik] for r in rows if r[qk] == q] for q in range(QUERIES)}
        ann_ids = by_q(ann, "qid", "vec_id")
        rrf_ids = by_q(rrf, "qid", "vec_id")
        ra = sum(len(exact[q] & set(ann_ids[q])) for q in range(QUERIES)) / (K * QUERIES)
        rh = sum(len(exact[q] & set(rrf_ids[q])) for q in range(QUERIES)) / (K * QUERIES)
        self.recall_ann.append(ra)
        self.recall_hybrid.append(rh)
        if ra < MIN_ANN_RECALL:
            self.problems.append(f"ANN recall@{K} {ra:.3f} < {MIN_ANN_RECALL}")
        # BM25 scores per rank against the reference (ties may order differently)
        ref = bm25_reference(self.bm25_stats, qterms, K)
        for q in range(QUERIES):
            got = [s for _r, s in sorted((r["rnk"], r["score"]) for r in bm25 if r["query_id"] == q)]
            want = [s for _d, s in ref[q]]
            if len(got) != len(want) or not np.allclose(got, want, atol=2e-6):
                self.problems.append(f"BM25 query {q}: scores {got[:3]}.. != {want[:3]}..")
        # RRF against a fusion of the two legs computed here
        for q in range(QUERIES):
            score: dict[int, float] = {}
            for rows, qk, ik, rk in ((bm25, "query_id", "doc_id", "rnk"), (ann, "qid", "vec_id", "rank")):
                for r in rows:
                    if r[qk] == q:
                        score[r[ik]] = score.get(r[ik], 0.0) + 1.0 / (60 + r[rk])
            want = sorted(round(v, 9) for v in score.values())[::-1][:K]
            got = sorted((r["rrf"] for r in rrf if r["qid"] == q), reverse=True)
            if len(got) != len(want) or not np.allclose(got, want, atol=1e-8):
                self.problems.append(f"RRF query {q}: {got[:3]}.. != {want[:3]}..")
        # MMR: MMR_K distinct picks per query from the exact top shortlist
        for q in range(QUERIES):
            picks = [r["vec_id"] for r in sorted((r for r in mmr if r["qid"] == q), key=lambda r: r["pick"])]
            short = set(np.argsort(-sims[q], kind="stable")[:MMR_SHORTLIST + 5].tolist())
            if len(picks) != MMR_K or len(set(picks)) != MMR_K or not set(picks) <= short:
                self.problems.append(f"MMR query {q}: picks {picks} not {MMR_K} distinct shortlist ids")
            elif sims[q][picks[0]] < sims[q].max() - 1e-5:
                self.problems.append(f"MMR query {q}: first pick {picks[0]} is not the most relevant")

    # -- measurement ---------------------------------------------------------
    def instrument(self, tracer) -> None:
        from automated_data_pipeline_spark.operators import retrieval, similarity

        tracer.wrap(retrieval, "bm25_top_docs", "operators.retrieval.bm25_top_docs")
        tracer.wrap(similarity, "ivf_topk_persisted", "operators.similarity.ivf_topk_persisted")
        tracer.wrap(retrieval, "rrf_fuse", "operators.retrieval.rrf_fuse")
        tracer.wrap(retrieval, "mmr_topk", "operators.retrieval.mmr_topk")
        tracer.wrap(similarity, "cosine_topk", "operators.similarity.cosine_topk")

    def check(self) -> list[str]:
        return list(self.problems)

    def info(self, plain) -> dict:
        lat = [r["secs"] for r in plain]
        return {
            "retrieve_qps": (sum(r["queries"] for r in plain) / sum(lat), "1/s"),
            "retrieve_p50_ms": (median(lat) * 1e3, "ms"),
            "retrieve_recall_at_10": (float(np.mean(self.recall_ann)) if self.recall_ann else 0.0, "ratio"),
            "retrieve_hybrid_recall_at_10": (
                float(np.mean(self.recall_hybrid)) if self.recall_hybrid else 0.0, "ratio"),
        }

    def layer_metrics(self, traced) -> dict:
        traced = [r for r in traced if len(r["leg_s"]) == len(LEGS)]
        out = {}
        names = {"bm25": "operators.retrieval.bm25_ms", "ann": "operators.similarity.ann_topk_ms",
                 "rrf": "operators.retrieval.rrf_fuse_ms", "mmr": "operators.retrieval.mmr_topk_ms"}
        for legname in LEGS:
            out[names[legname]] = median([r["leg_s"][legname] for r in traced]) * 1e3 if traced else 0.0
            jobs = [r["jobs"].get(legname, 0) for r in traced]
            out[f"spark.jobs_per_batch.{legname}"] = median(jobs) if jobs else 0.0
        return out
