"""Seeded input generators owned by the benchmark.

Every generator is a pure function of its seed (and sizes): the same
seed writes byte-identical files, another seed writes different ones.
``digest`` hashes what a generator wrote so the harness can check both
properties on every run. Nothing here imports the engine: the engine
receives only the files and requests made from these inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

# -- orders batches (etl_upsert) -----------------------------------------

ORDER_COLUMNS = ["OrderId", "CustomerId", "Amount", "OrderDate"]
MALFORMED_SHARE = 0.02  # blank key (dropped), junk amount/date, blank customer
DUP_KEY_SHARE = 0.01  # rows that repeat an earlier key of the same batch


def order_batch(seed: int, index: int, rows: int) -> list[list[str]]:
    """Batch ``index`` of the upsert stream as string rows.

    Keys of batch i are ids [i*rows/2, i*rows/2 + rows): consecutive
    batches share half their keys, so every run grows the target by
    rows/2. About 1% of rows repeat a key that appears earlier in the
    same batch (the later row must win) and about 2% are malformed in
    one of four ways Extract drops or coerces."""
    rng = random.Random(f"orders/{seed}/{index}")
    base = index * rows // 2
    ids = list(range(base, base + rows))
    rng.shuffle(ids)
    out = []
    for pos, key in enumerate(ids):
        cust = f"C{rng.randrange(1, 20_000):05d}"
        amount = f"{rng.randrange(100, 600_000) / 100:.2f}"
        date = f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
        out.append([f"ORD-{key:09d}", cust, amount, date])
        if pos > 0 and rng.random() < DUP_KEY_SHARE:
            out[-1][0] = out[rng.randrange(0, pos)][0]
    for row in out:
        if rng.random() < MALFORMED_SHARE:
            kind = rng.randrange(4)
            if kind == 0:
                row[0] = ""
            elif kind == 1:
                row[2] = "n/a"
            elif kind == 2:
                row[3] = "not-a-date"
            else:
                row[1] = ""
    return out


def order_batch_format(index: int) -> str:
    """Three batches of four are CSV, the fourth JSONL."""
    return "jsonl" if index % 4 == 3 else "csv"


def write_order_batch(path_stem: str, index: int, rows: list[list[str]]) -> str:
    """Write one batch as CSV or JSONL; returns the file path."""
    if order_batch_format(index) == "csv":
        path = path_stem + ".csv"
        lines = [",".join(ORDER_COLUMNS)] + [",".join(r) for r in rows]
    else:
        path = path_stem + ".json"
        lines = [json.dumps(dict(zip(ORDER_COLUMNS, r))) for r in rows]
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    return path


# -- control history (etl_upsert's monitoring GUI) -----------------------

PIPELINES = ["OrdersPipeline", "CustomersPipeline", "InventoryPipeline"]


def history_plan(seed: int, runs: int) -> list[dict]:
    """The runs a monitoring history holds, oldest first: pipeline name,
    final status, the step that failed (if any) and per-step row counts.
    About one run in six fails, at a random step."""
    rng = random.Random(f"history/{seed}")
    plan = []
    for i in range(runs):
        fail_step = rng.randrange(1, 5) if rng.random() < 1 / 6 else None
        rows = rng.randrange(1_000, 250_000)
        plan.append(
            {
                "pipeline": PIPELINES[rng.randrange(len(PIPELINES))],
                "status": "Failed" if fail_step else "Success",
                "fail_step": fail_step,
                "rows": [rows, rows - rng.randrange(0, 50), 0, 0],
            }
        )
        plan[-1]["rows"][2] = plan[-1]["rows"][1]
        plan[-1]["rows"][3] = plan[-1]["rows"][1] - rng.randrange(0, 20)
    return plan


# -- corpus with planted duplicates (curate_retrieve's funnel) -----------

EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 9))))
    return sorted(words)


def corpus(seed: int, delivery: int, docs: int, first_id: int = 0):
    """One corpus delivery: ``docs`` documents, about 10% exact
    duplicates (same text up to case, punctuation and spacing) and 10%
    one-token-edit near-duplicates of distinct originals.

    Returns (rows, planted) where rows are (doc_id, text) in arrival
    order and planted lists (original_id, near_dup_id) pairs."""
    rng = random.Random(f"corpus/{seed}/{delivery}")
    vocab = _vocab(rng, 4000)
    n_exact = int(docs * EXACT_DUP_SHARE)
    n_near = int(docs * NEAR_DUP_SHARE)
    n_orig = docs - n_exact - n_near
    originals = [
        [rng.choice(vocab) for _ in range(rng.randrange(30, 60))]
        for _ in range(n_orig)
    ]
    items: list[tuple[str, int | None, str]] = [
        ("orig", i, " ".join(t)) for i, t in enumerate(originals)
    ]
    for _ in range(n_exact):
        src = rng.randrange(n_orig)
        words = [w.upper() if rng.random() < 0.3 else w for w in originals[src]]
        items.append(("exact", src, "  ".join(words) + rng.choice([".", "!", ""])))
    for src in rng.sample(range(n_orig), n_near):
        words = list(originals[src])
        pos = rng.randrange(len(words))
        repl = rng.choice(vocab)
        while repl == words[pos]:
            repl = rng.choice(vocab)
        words[pos] = repl
        items.append(("near", src, " ".join(words)))
    rng.shuffle(items)
    # ids follow arrival order, so an original need not hold the
    # smallest id of its exact-duplicate class
    orig_id: dict[int, int] = {}
    rows, planted_src = [], []
    for k, (kind, src, text) in enumerate(items):
        doc_id = first_id + k
        rows.append((doc_id, text))
        if kind == "orig":
            orig_id[src] = doc_id
        elif kind == "near":
            planted_src.append((src, doc_id))
    planted = [(orig_id[src], did) for src, did in planted_src]
    return rows, planted


def write_shards(rows, out_dir: str, shards: int) -> list[str]:
    """Split rows into ``shards`` JSONL files in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(rows) // shards)
    for s in range(shards):
        path = os.path.join(out_dir, f"shard-{s:03d}.json")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            for doc_id, text in rows[s * per:(s + 1) * per]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        paths.append(path)
    return paths


# -- clustered embeddings with text (curate_retrieve's queries) ----------


NOISE = 1.35


def embeddings(seed: int, n: int, dim: int, clusters: int):
    """Corpus of ``n`` unit vectors around ``clusters`` seeded centres,
    each with a short text drawn mostly from its cluster's vocabulary.
    Returns (vectors float32 [n, dim], texts, labels, centres, the
    40-word vocabulary of each cluster)."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    # noise of norm ~1.35 against unit centres: clusters overlap, so the
    # IVF probe count matters for recall
    vecs = centres[labels] + NOISE * rng.standard_normal((n, dim)) / np.sqrt(dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    words = _vocab(random.Random(f"embvocab/{seed}"), clusters * 40 + 200)
    cluster_words = [words[c * 40:(c + 1) * 40] for c in range(clusters)]
    common = words[clusters * 40:]
    wrng = random.Random(f"embtext/{seed}")
    texts = []
    for lab in labels:
        own = cluster_words[int(lab)]
        toks = [
            wrng.choice(own) if wrng.random() < 0.6 else wrng.choice(common)
            for _ in range(wrng.randrange(8, 20))
        ]
        texts.append(" ".join(toks))
    return vecs.astype(np.float32), texts, labels, centres, cluster_words


def write_embedding_corpus(path: str, vecs, texts) -> str:
    """The retrieval corpus as one parquet file (vec_id, text, embedding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    out = os.path.join(path, "part-0.parquet")
    pq.write_table(table, out)
    return out


def query_batch(seed: int, batch: int, size: int, centres, cluster_words):
    """``size`` queries: a vector near a random centre plus three terms
    of that cluster's vocabulary. Returns (qvecs float32, terms list)."""
    rng = np.random.default_rng([seed, 2, batch])
    dim = centres.shape[1]
    labels = rng.integers(0, len(centres), size)
    q = centres[labels] + NOISE * rng.standard_normal((size, dim)) / np.sqrt(dim)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    terms = [
        [cluster_words[int(lab)][int(j)] for j in rng.choice(40, 3, replace=False)]
        for lab in labels
    ]
    return q.astype(np.float32), terms


# -- determinism check -----------------------------------------------------


def digest(*parts) -> str:
    """sha256 over generated values or the bytes of generated files."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, str) and os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
        elif isinstance(p, np.ndarray):
            h.update(p.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()
