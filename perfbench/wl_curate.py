"""The curation funnel of the curate_retrieve workload: corpus
deliveries with planted exact and near duplicates go through the
incremental exact-dedup stream (``start_incremental_dedup``,
availableNow, one shard file per micro-batch), then
``dedup_components`` — MinHash/LSH pairs (``minhash_lsh_pairs``) and
their connected components — over the stream's survivors. One
operation is one delivery's funnel."""

from __future__ import annotations

import json
import os
import re
import time
from hashlib import md5

import gen
from harness import Ops, fresh_dir, median

DOCS = 2_000  # documents per delivery
SHARDS = 2  # shard files per delivery = micro-batches
WARM_DOCS = 500  # the warm-up's own delivery: enough to compile every step
THRESHOLD = 0.8  # minhash_lsh_pairs' default Jaccard threshold
MIN_RECALL = 0.9


def fingerprint(text: str) -> str:
    """The engine's exact-dup key: md5 of the lowercased text with every
    non-alphanumeric removed."""
    return md5(re.sub(r"[^a-z0-9]", "", text.lower()).encode()).hexdigest()


def shingles(text: str) -> set[str]:
    """Distinct word bigrams of the lowercased whitespace tokens."""
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


class Funnel:
    def __init__(self, sp, work: str, seed: int):
        from automated_data_pipeline_spark.operators import dedup

        self.sp, self.spark, self.work, self.seed = sp, sp.spark, work, seed
        # keep what dedup_components' own minhash_lsh_pairs call returns:
        # the pairs the check verifies (a pass-through otherwise)
        self.pairs_frames: list = []
        self._orig_pairs = orig = dedup.minhash_lsh_pairs

        def capture(*args, **kwargs):
            out = orig(*args, **kwargs)
            self.pairs_frames.append(out)
            return out

        dedup.minhash_lsh_pairs = capture

    def input_digest(self, seed: int) -> str:
        rows, planted = gen.corpus(seed, 1, DOCS)
        tmp = fresh_dir(os.path.join(self.work, "digest"))
        return gen.digest(rows, planted, *gen.write_shards(rows, tmp, SHARDS))

    def setup(self, rep: int) -> str:
        self._reset(f"curate-{rep}")
        self.pending = self._make_delivery(DOCS)
        return gen.digest(self.pending[0], self.pending[1], *self.pending[3])

    def _make_delivery(self, docs: int, k: int | None = None):
        """Delivery ``k`` (default: the next one) written as shard files;
        the warm-up uses k = -1, a delivery no measured run sees."""
        if k is None:
            k = self.deliveries
            self.deliveries += 1
        rows, planted = gen.corpus(self.seed, k + 1, docs)
        base = os.path.join(self.dir, f"d{k:03d}")
        shards = gen.write_shards(rows, os.path.join(base, "src"), SHARDS)
        return rows, planted, base, shards

    def _reset(self, name: str) -> None:
        self.dir = fresh_dir(os.path.join(self.work, name))
        self.deliveries = 0
        self.problems: list[str] = []
        self.recalls: list[tuple[int, int]] = []

    def warm(self) -> None:
        """One delivery of its own (k = -1) through the whole funnel,
        leaving the measured state and its pending delivery as they are."""
        measured = self.pending
        self.pending = self._make_delivery(WARM_DOCS, k=-1)
        try:
            self.op(Ops(), check=False)
        finally:
            self.pending = measured

    def advance(self) -> None:
        """Generate the next delivery (untimed, between operations)."""
        self.pending = self._make_delivery(DOCS)

    def op(self, ops: Ops, check: bool = True) -> dict:
        """Funnel the pending delivery. With ``check``, ``res["verify"]``
        checks the outputs when called: its collects and Python
        references run outside the operation and off the other client's
        time."""
        from automated_data_pipeline_spark.operators import dedup
        from automated_data_pipeline_spark.streaming import incremental_dedup as inc

        rows, planted, base, _shards = self.pending
        ops.attempt()
        res = {"docs": len(rows)}
        t0 = time.perf_counter()
        try:
            store = inc.FingerprintStore(os.path.join(base, "store"))
            q = inc.start_incremental_dedup(
                self.spark, os.path.join(base, "src"), store,
                os.path.join(base, "out"), os.path.join(base, "ckpt"),
            )
            q.awaitTermination()
            t_stream = time.perf_counter()
            survivors = self.spark.read.parquet(os.path.join(base, "out")).select("doc_id", "text")
            self.pairs_frames.clear()
            comps = dedup.dedup_components(survivors, "doc_id", "text").collect()
            res["secs"] = time.perf_counter() - t0
            res["stream_s"] = t_stream - t0
            # the verified pairs dedup_components clustered (its own
            # minhash_lsh_pairs call, captured by the wrapper __init__ installs)
            pairs = self.pairs_frames[-1]
            res["progress"] = [json.loads(p.json) for p in q.recentProgress]
        except Exception as exc:  # noqa: BLE001 — a failed funnel is counted, not fatal
            ops.fail(f"funnel {base}: {type(exc).__name__}: {exc}")
            res["secs"] = time.perf_counter() - t0
            return res
        if check:
            def verify():
                kept = {r["doc_id"] for r in survivors.select("doc_id").collect()}
                self._check(rows, planted, kept, pairs.collect(), comps, res)

            res["verify"] = verify
        res["survivors"] = survivors
        return res

    def _check(self, rows, planted, kept, pairs, comps, res) -> None:
        text = dict(rows)
        fps = {fingerprint(t) for t in text.values()}
        if len(kept) != len(fps):
            self.problems.append(f"kept {len(kept)} docs, {len(fps)} distinct fingerprints")
        kept_fp = {fingerprint(text[d]) for d in kept}
        if len(kept_fp) != len(kept):
            self.problems.append("two kept documents share a fingerprint")
        found = set()
        for p in pairs:
            a, b = p["id_a"], p["id_b"]
            if a not in kept or b not in kept:
                self.problems.append(f"pair ({a}, {b}) outside the survivors")
                continue
            if jaccard(text[a], text[b]) < THRESHOLD - 1e-9:
                self.problems.append(f"pair ({a}, {b}) has Jaccard {jaccard(text[a], text[b]):.3f}")
            found.add(frozenset((fingerprint(text[a]), fingerprint(text[b]))))
        hits = sum(
            frozenset((fingerprint(text[o]), fingerprint(text[n]))) in found for o, n in planted
        )
        recall = hits / len(planted)
        self.recalls.append((hits, len(planted)))
        if recall < MIN_RECALL:
            self.problems.append(f"near-duplicate recall {recall:.3f} < {MIN_RECALL}")
        # components: every verified pair joins one cluster
        rep = {r["doc_id"]: r["rep_id"] for r in comps}
        if set(rep) != kept:
            self.problems.append("dedup_components does not cover the survivors")
        elif any(rep[p["id_a"]] != rep[p["id_b"]] for p in pairs):
            self.problems.append("a verified pair spans two components")
        res["pairs"] = len(pairs)

    # -- measurement ---------------------------------------------------------
    def instrument(self, tracer) -> None:
        from automated_data_pipeline_spark.operators import dedup
        from automated_data_pipeline_spark.streaming import incremental_dedup as inc

        tracer.wrap(inc, "start_incremental_dedup", "streaming.start_incremental_dedup")
        tracer.wrap(inc, "dedup_batch_against_store", "streaming.dedup_batch_against_store")
        tracer.wrap(dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs")
        tracer.wrap(dedup, "dedup_components", "operators.dedup.dedup_components")
        tracer.wrap(dedup, "connected_components", "operators.dedup.connected_components")

    def check(self) -> list[str]:
        return list(self.problems)

    def info(self, plain) -> dict:
        return {
            "curate_docs_per_s": (sum(r["docs"] for r in plain) / sum(r["secs"] for r in plain), "1/s"),
            "curate_neardup_recall": (
                sum(h for h, _ in self.recalls) / max(1, sum(n for _, n in self.recalls)), "ratio"),
        }

    def close(self) -> None:
        from automated_data_pipeline_spark.operators import dedup

        dedup.minhash_lsh_pairs = self._orig_pairs

    def layer_metrics(self, traced, tracer) -> dict:
        from automated_data_pipeline_spark.operators.dedup import band_bucket_frame, shingle_frame
        from pyspark.sql import functions as F

        traced = [r for r in traced if "progress" in r]
        prog = [p for r in traced for p in r["progress"] if p.get("numInputRows")]

        def dur(key):
            vals = [p["durationMs"].get(key, 0) for p in prog]
            return median(vals) if vals else 0.0

        out = {
            "streaming.stream_s": median([r["stream_s"] for r in traced]) if traced else 0.0,
            "streaming.batch_ms": dur("triggerExecution"),
            "streaming.batches": len(prog) / max(1, len(traced)),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "operators.dedup.minhash_lsh_pairs_s": tracer.median_ms("operators.dedup.minhash_lsh_pairs") / 1e3,
            "operators.dedup.dedup_components_s": tracer.median_ms("operators.dedup.dedup_components") / 1e3,
        }
        if traced:
            # candidates: distinct (a < b) pairs sharing a band bucket, from
            # the same banding the operator verifies (counted after the
            # measured window, outside every span)
            last = traced[-1]
            sh = shingle_frame(last["survivors"], "doc_id", "text").filter(F.size("shingles") > 0)
            b = band_bucket_frame(sh, 8, 2)
            cand = (
                b.alias("x").join(b.alias("y"), ["band", "bucket"])
                .where(F.col("x.id") < F.col("y.id"))
                .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
                .distinct().count()
            )
            out["operators.dedup.verified_per_candidate"] = last.get("pairs", 0) / max(1, cand)
        return out
