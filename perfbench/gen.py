"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
generator drives all draws, and the results are written as parquet
files with pyarrow before Spark ever sees them, so the program reads
only those files. Each generator returns a ``(paths, truth, props)``
triple: ``paths`` maps an input name to its parquet file, ``truth``
holds what the checks need (expected vectors, planted rows), and
``props`` is the JSON-ready description of the properties that drive
the program's behaviour (sizes, skew, Zipf shape, delta mix).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64


def _write(path: str, table: dict) -> int:
    pq.write_table(pa.table(table), path)
    return os.path.getsize(path)


def _vec_column(X: np.ndarray) -> pa.Array:
    """(n, d) float32 matrix → Arrow list<float> column."""
    X = np.ascontiguousarray(X, dtype=np.float32)
    return pa.FixedSizeListArray.from_arrays(
        pa.array(X.reshape(-1)), X.shape[1]
    ).cast(pa.list_(pa.float32()))


class Topics:
    """A Gaussian mixture at ``DIM`` with Zipf-skewed cluster sizes and
    a Zipf vocabulary tied to each cluster: half of a document's words
    come from a global rank order (shared, stopword-like head) and half
    from the cluster's own permutation of the vocabulary."""

    def __init__(self, rng: np.random.Generator, n_clusters: int,
                 cluster_skew: float, vocab: int, zipf_a: float,
                 spread: float):
        self.rng = rng
        self.n_clusters = n_clusters
        self.cluster_skew = cluster_skew
        self.vocab = vocab
        self.zipf_a = zipf_a
        self.spread = spread
        w = 1.0 / np.arange(1, n_clusters + 1) ** cluster_skew
        self.weights = w / w.sum()
        self.centers = rng.normal(size=(n_clusters, DIM))
        r = 1.0 / np.arange(1, vocab + 1) ** zipf_a
        self.rank_p = r / r.sum()
        self.global_perm = rng.permutation(vocab)
        self.topic_perm = np.stack(
            [rng.permutation(vocab) for _ in range(n_clusters)]
        )

    def labels(self, n: int) -> np.ndarray:
        return self.rng.choice(self.n_clusters, size=n, p=self.weights)

    def vectors(self, labels: np.ndarray) -> np.ndarray:
        noise = self.rng.normal(size=(len(labels), DIM)) * self.spread
        return (self.centers[labels] + noise).astype(np.float32)

    def words(self, label: int, n: int) -> list[str]:
        ranks = self.rng.choice(self.vocab, size=n, p=self.rank_p)
        topical = self.rng.random(n) < 0.5
        idx = np.where(
            topical, self.topic_perm[label][ranks], self.global_perm[ranks]
        )
        return [f"t{i}" for i in idx]

    def texts(self, labels: np.ndarray, n_words: int) -> list[str]:
        return [" ".join(self.words(int(c), n_words)) for c in labels]

    def props(self, labels: np.ndarray, texts: list[str]) -> dict:
        sizes = np.bincount(labels, minlength=self.n_clusters)
        df: dict[str, int] = {}
        for t in texts:
            for w in set(t.split()):
                df[w] = df.get(w, 0) + 1
        top_term, top_df = max(df.items(), key=lambda kv: kv[1])
        return {
            "dim": DIM,
            "clusters": self.n_clusters,
            "cluster_size_skew": self.cluster_skew,
            "largest_cluster_share": round(float(sizes.max() / len(labels)), 4),
            "smallest_cluster_share": round(float(sizes.min() / len(labels)), 4),
            "vocab": self.vocab,
            "zipf_exponent": self.zipf_a,
            "top_term": top_term,
            "top_term_doc_freq": round(top_df / len(texts), 4),
        }


def unit(X: np.ndarray) -> np.ndarray:
    X = np.asarray(X, dtype=np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def chunk_id(local_index: int, text: str) -> str:
    """Driver-side twin of ``functions.text.chunk_id``."""
    return f"doc_{local_index}_{hashlib.md5(text.encode()).hexdigest()[:8]}"


# -- serve -----------------------------------------------------------------

SERVE = {
    "corpus_rows": 2000,
    "clusters": 16,
    "cluster_skew": 1.0,
    "vocab": 4000,
    "zipf_exponent": 1.1,
    "spread": 1.0,
    "doc_words": 30,
    "deltas": 1,
    "inserts_per_delta": 8,
    "overwrites_per_delta": 4,
    "deletes_per_delta": 4,
    "questions_per_batch": 24,
    "query_batches": 24,
    "recall_queries": 128,
}


def serve_inputs(seed: int, work: str) -> tuple[dict, dict, dict]:
    """Base corpus (records for all three layouts), the refresh delta
    batches applied in set-up (raw insert docs, overwrite records,
    delete ids), the question batches of the measured loop and a recall
    query set. Every question batch probes each planted insert and
    overwrite (by its own vector + marker) and each delete (by its old
    vector + text); the rest of the batch is drawn from the mixture."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
        HashEmbedder,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
        split_text,
    )

    c = SERVE
    rng = np.random.default_rng([seed, 1])
    topics = Topics(rng, c["clusters"], c["cluster_skew"], c["vocab"],
                    c["zipf_exponent"], c["spread"])
    n = c["corpus_rows"]
    labels = topics.labels(n)
    # unit rows: the cosine layout's quantizers are trained on the
    # stored frame, which is then already in the unit-sphere space
    X = unit(topics.vectors(labels)).astype(np.float32)
    texts = topics.texts(labels, c["doc_words"])
    # numeric ids for the base corpus; ingested chunks get the
    # content-addressed ids of ``docs_to_records`` (see ``workloads.key_of``)
    ids = [str(i) for i in range(n)]
    sources = [f"base/{i}" for i in range(n)]
    paths = {"corpus": os.path.join(work, "corpus.parquet")}
    corpus_bytes = _write(paths["corpus"], {
        "id": ids,
        "embedding": _vec_column(X),
        "text": texts,
        "source": sources,
        "chunk_index": pa.array(np.zeros(n, dtype=np.int32)),
    })

    embedder = HashEmbedder(dimension=DIM)
    alive_base = list(range(n))
    deltas = []
    probes = []  # (question vector, question text, (kind, planted row))
    for b in range(1, c["deltas"] + 1):
        # inserts: raw docs that go through chunk -> embed; short enough
        # to be one chunk each, tagged with a unique marker token
        ins_text, ins_src, planted = [], [], []
        for i in range(c["inserts_per_delta"]):
            lab = int(topics.labels(1)[0])
            t = f"zi{b}x{i} " + " ".join(topics.words(lab, 12))
            src = f"ins/{b}/{i}"
            chunk = split_text(t)
            if len(chunk) != 1:
                raise ValueError(f"insert doc {src} is not one chunk")
            cid = chunk_id(0, chunk[0])
            vec = np.asarray(embedder.embed_one(chunk[0]), dtype=np.float32)
            ins_text.append(t)
            ins_src.append(src)
            planted.append({"id": cid, "marker": f"zi{b}x{i}",
                            "text": chunk[0], "source": src, "vec": vec})
        # overwrites and deletes draw disjoint live base rows
        pick = rng.choice(len(alive_base),
                          size=c["overwrites_per_delta"] + c["deletes_per_delta"],
                          replace=False)
        chosen = [alive_base[j] for j in pick]
        picked = set(int(j) for j in pick)
        alive_base = [r for j, r in enumerate(alive_base) if j not in picked]
        ow_rows = chosen[: c["overwrites_per_delta"]]
        del_rows = chosen[c["overwrites_per_delta"]:]
        ow_vec = unit(rng.normal(size=(len(ow_rows), DIM))).astype(np.float32)
        ow = []
        for j, r in enumerate(ow_rows):
            lab = int(labels[r])
            t = f"zo{b}x{j} " + " ".join(topics.words(lab, 12))
            ow.append({"id": ids[r], "marker": f"zo{b}x{j}", "text": t,
                       "source": sources[r], "vec": ow_vec[j]})
        dels = [{"id": ids[r], "vec": X[r], "text": texts[r],
                 "source": sources[r]} for r in del_rows]

        p_ins = os.path.join(work, f"delta{b}_ins.parquet")
        p_ow = os.path.join(work, f"delta{b}_ow.parquet")
        p_del = os.path.join(work, f"delta{b}_del.parquet")
        nbytes = _write(p_ins, {"text": ins_text, "source": ins_src})
        nbytes += _write(p_ow, {
            "id": [o["id"] for o in ow],
            "embedding": _vec_column(np.stack([o["vec"] for o in ow])),
            "text": [o["text"] for o in ow],
            "source": [o["source"] for o in ow],
            "chunk_index": pa.array(np.zeros(len(ow), dtype=np.int32)),
        })
        nbytes += _write(p_del, {"id": [d["id"] for d in dels]})
        deltas.append({
            "batch": b, "ins": p_ins, "ow": p_ow, "del": p_del,
            "bytes": nbytes, "planted": planted, "overwrites": ow,
            "deletes": dels,
        })
        probes += [(p["vec"], p["marker"], ("ins", p)) for p in planted]
        probes += [(o["vec"], o["marker"], ("ow", o)) for o in ow]
        probes += [(d["vec"], " ".join(d["text"].split()[:6]), ("del", d))
                   for d in dels]

    qb = c["questions_per_batch"]
    rest = qb - len(probes)
    if rest < 0:
        raise ValueError("questions_per_batch too small for the delta mix")
    batches = []
    for i in range(c["query_batches"]):
        rl = topics.labels(rest)
        qv = [p[0] for p in probes] + list(topics.vectors(rl))
        qt = [p[1] for p in probes] + topics.texts(rl, 6)
        p_q = os.path.join(work, f"queries{i}.parquet")
        _write(p_q, {
            "query_id": pa.array(np.arange(qb, dtype=np.int64)),
            "qvec": _vec_column(np.stack(qv)),
            "text": qt,
            "question": [f"what about {t}?" for t in qt],
        })
        batches.append({
            "path": p_q,
            "kinds": [p[2] for p in probes] + [("mix", None)] * rest,
        })

    paths["recall_queries"] = os.path.join(work, "recall_queries.parquet")
    rl = topics.labels(c["recall_queries"])
    _write(paths["recall_queries"], {
        "query_id": pa.array(np.arange(len(rl), dtype=np.int64)),
        "qvec": _vec_column(topics.vectors(rl)),
    })
    truth = {
        "base": {ids[i]: (X[i], texts[i], sources[i]) for i in range(n)},
        "deltas": deltas,
        "batches": batches,
    }
    props = dict(topics.props(labels, texts))
    props.update({
        "rows": n,
        "corpus_bytes": corpus_bytes,
        "doc_words": c["doc_words"],
        "deltas": c["deltas"],
        "delta_mix": {
            "inserts": c["inserts_per_delta"],
            "overwrites": c["overwrites_per_delta"],
            "deletes": c["deletes_per_delta"],
        },
        "delta_bytes_median": int(np.median([d["bytes"] for d in deltas])),
        "questions_per_batch": qb,
        "probes_per_batch": len(probes),
        "query_batches_generated": c["query_batches"],
        "recall_queries": c["recall_queries"],
    })
    return paths, truth, props


# -- curate ----------------------------------------------------------------

CURATE = {
    "docs": 2000,
    "clusters": 16,
    "cluster_skew": 1.0,
    "vocab": 4000,
    "zipf_exponent": 1.1,
    "spread": 1.0,
    "doc_words": 60,
    "exact_dup_share": 0.04,
    "token_edit_share": 0.04,
    "embedding_dup_share": 0.04,
    "embedding_threshold": 0.95,
}


def curate_inputs(seed: int, work: str) -> tuple[dict, dict, dict]:
    """Docs with embeddings and three planted duplicate families:
    exact copies (case / whitespace variants), token-edited copies
    (two words replaced) and embedding near-duplicates (small vector
    perturbation, unrelated text). Planted pairs are (original,
    copy) with the copy's id always the larger one."""
    c = CURATE
    rng = np.random.default_rng([seed, 2])
    topics = Topics(rng, c["clusters"], c["cluster_skew"], c["vocab"],
                    c["zipf_exponent"], c["spread"])
    n = c["docs"]
    n_exact = int(n * c["exact_dup_share"])
    n_edit = int(n * c["token_edit_share"])
    n_emb = int(n * c["embedding_dup_share"])
    n_base = n - n_exact - n_edit - n_emb
    labels = topics.labels(n_base)
    X = list(topics.vectors(labels))
    texts = topics.texts(labels, c["doc_words"])
    originals = rng.choice(n_base, size=n_exact + n_edit + n_emb, replace=False)
    planted = {"exact": [], "edit": [], "embedding": []}
    next_id = n_base
    for j, o in enumerate(originals):
        o = int(o)
        if j < n_exact:
            words = texts[o].split()
            t = "  ".join(words).upper() if j % 2 else " " + texts[o] + "  "
            v = topics.vectors(np.array([labels[o]]))[0]
            fam = "exact"
        elif j < n_exact + n_edit:
            words = texts[o].split()
            for pos in rng.choice(len(words), size=2, replace=False):
                words[pos] = f"e{next_id}x{pos}"
            t = " ".join(words)
            v = topics.vectors(np.array([labels[o]]))[0]
            fam = "edit"
        else:
            t = " ".join(topics.words(int(labels[o]), c["doc_words"]))
            v = (np.asarray(X[o], dtype=np.float64)
                 + rng.normal(size=DIM) * 0.25 * np.linalg.norm(X[o]) / 8.0)
            fam = "embedding"
        texts.append(t)
        X.append(np.asarray(v, dtype=np.float32))
        planted[fam].append((o, next_id))
        next_id += 1
    Xm = np.stack(X).astype(np.float32)
    path = os.path.join(work, "curate_docs.parquet")
    nbytes = _write(path, {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "embedding": _vec_column(Xm),
    })
    Xu = unit(Xm)
    emb_cos = [float(Xu[a] @ Xu[b]) for a, b in planted["embedding"]]
    props = dict(topics.props(labels, texts[:n_base]))
    props.update({
        "rows": n,
        "bytes": nbytes,
        "doc_words": c["doc_words"],
        "planted_duplicate_share": round(
            (n_exact + n_edit + n_emb) / n, 4),
        "planted_pairs": {k: len(v) for k, v in planted.items()},
        "embedding_threshold": c["embedding_threshold"],
        "planted_embedding_cosine_min": round(min(emb_cos), 4),
    })
    return {"docs": path}, {"planted": planted, "vectors": Xm}, props
