"""curate_retrieve: the curation operators under one closed-loop
client. A round funnels one corpus delivery (incremental exact-dedup
stream, then MinHash/LSH pairs and near-duplicate components over its
survivors), then sends one query batch (BM25, persisted IVF top-k,
hybrid RRF, MMR) over a fixed corpus indexed during set-up. The two
operations run one after the other, so neither's time holds the other's
Spark jobs."""

from __future__ import annotations

import threading

import gen
from harness import Ops, closed_loop
from wl_curate import Funnel
from wl_retrieve import Retrieval

# The first set-up pays the index build's class loading and JIT; the
# warm-up then funnels a delivery of its own (the first funnel runs
# about twice a warm one) beside one query batch to the measured index
# (the first batch on a fresh index runs about a third slower than the
# next). A warm round takes about 16 s on 4 cores, so a window
# of up to that measures one round; rounds that finish sooner are
# measured until the window is full.


class CurateRetrieve:
    name = "curate_retrieve"

    def __init__(self, sp, work: str, seed: int):
        self.funnel = Funnel(sp, work, seed)
        self.retrieval = Retrieval(sp, work, seed)

    def input_digest(self, seed: int) -> str:
        return gen.digest(self.funnel.input_digest(seed), self.retrieval.input_digest(seed))

    def setup(self, rep: int) -> str:
        return gen.digest(self.funnel.setup(rep), self.retrieval.setup(rep))

    def warm(self) -> None:
        """A delivery of the funnel's own beside one unchecked query
        batch on the measured index. Nothing is measured here, so the
        two run on two threads and their cold costs overlap."""
        th = threading.Thread(target=self.funnel.warm, name="warm-funnel")
        th.start()
        try:
            self.retrieval.op(Ops(), check=False)
        finally:
            th.join()

    def instrument(self, tracer) -> None:
        self.funnel.instrument(tracer)
        self.retrieval.instrument(tracer)

    def _round(self, ops: Ops, tracer=None) -> dict:
        f = self.funnel.op(ops)
        q = self.retrieval.op(ops, tracer=tracer)
        # checks and the next delivery's generation run outside both
        # operations' times
        for res in (f, q):
            if "verify" in res:
                res.pop("verify")()
        self.funnel.advance()
        return {"secs": f["secs"] + q["secs"], "funnel": f, "query": q}

    def measure(self, seconds: float, ops: Ops, tracer=None) -> dict:
        plain, traced = closed_loop(seconds, lambda i: self._round(ops, tracer), tracer)
        return {"plain": plain, "traced": traced}

    def check(self) -> list[str]:
        return self.funnel.check() + self.retrieval.check()

    def report(self, res):
        """(job latencies, read latencies, documents per second, workload metrics)."""
        funnels = [r["funnel"] for r in res["plain"]]
        queries = [r["query"] for r in res["plain"]]
        info = self.funnel.info(funnels)
        info.update(self.retrieval.info(queries))
        return ([f["secs"] for f in funnels], [q["secs"] for q in queries],
                info["curate_docs_per_s"][0], info)

    def layer_metrics(self, res, tracer) -> dict:
        out = self.funnel.layer_metrics([r["funnel"] for r in res["traced"]], tracer)
        out.update(self.retrieval.layer_metrics([r["query"] for r in res["traced"]]))
        return out

    def close(self) -> None:
        self.funnel.close()
