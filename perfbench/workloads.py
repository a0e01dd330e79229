"""The benchmark's workloads, written against the package's public API.

``serve``: layouts (vector index table, cosine IVFPQ, lexical inverted
index) are built in set-up from a seeded clustered corpus, then a
refresh delta — raw docs chunked and embedded, id overwrites and
deletes — is applied to all three. The measured loop runs question
batches through the full serving path on the refreshed layouts: routed
vector search, BM25, reciprocal-rank fusion, a join to the doc text,
context assembly and answers from the echo generator.

``curate``: seeded docs and embeddings with planted exact, token-edited
and embedding near-duplicates go through exact dedup → MinHash LSH →
JL-prefiltered embedding near-dup pairs.

Each workload exposes ``setup(spark)``, ``step()`` (one operation of the
measured loop; returns ``False`` when its inputs are used up),
``finish()`` (untimed end-of-run checks and quality metrics) and
``record()``. Every output is checked; an operation that raises or
returns a wrong result counts as failed.
"""

from __future__ import annotations

import os
import re
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.embed.providers import (
    HashEmbedder,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators import (
    dedup,
    pq,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
    rrf_fuse,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.rag import (
    assemble_answers,
    build_context,
    echo_generator,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.search import (
    search,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.index_table import (
    VectorIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.lexical_index import (
    LexicalIndex,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.ingest import (
    docs_to_records,
)

from perfbench import gen
from perfbench.host import cpu_s, descendants, dir_bytes, steal_s
from perfbench.trace import Tracer

K_RETRIEVE = 10  # vector and lexical candidates per question
K_FUSED = 5  # fused matches per answer
N_CENTROIDS = 16
PQ_M, PQ_K = 16, 64
NPROBE, FETCH_K = 8, 50
# layout widths sized to the corpus: ~250 rows per vector-index bucket,
# ~250 docs per term bucket and ~500 per doc bucket
INDEX_BUCKETS = 8
TERM_BUCKETS, DOC_BUCKETS = 8, 4
WRITE_LAYERS = ("operators.pq", "sources.index_table", "sources.lexical_index")

_DOC_BLOCK = re.compile(
    r"\[Document (\d+)\] \(Source: ([^,]*), Relevance: [^)]*\)\n([^\n]*)\n"
)


def key_of(id_col: str = "id"):
    """Long key of a string id for the layouts keyed on longs (IVFPQ
    ``vec_id``, lexical ``doc_id``): the number itself for the base
    corpus's numeric ids, ``xxhash64`` for content-addressed chunk ids.
    The IVFPQ build seeds its coarse centroids from the lowest keys and
    stores their ids as ints, so the base keys must stay small."""
    return F.coalesce(F.col(id_col).try_cast("long"), F.xxhash64(id_col))


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


class Workload:
    name = ""
    #: operations a window runs even when ``--seconds`` has passed, so
    #: each run reports a median over at least this many samples
    min_ops = 1

    def __init__(self, work: str, tracer: Tracer):
        self.work = work
        self.tracer = tracer
        self.ops: list[dict] = []
        self.check_failures: list[str] = []
        self.spark = None

    def materialize(self, df: DataFrame) -> DataFrame:
        """Traced runs compute each lazy layer output once, inside the
        span of the layer that produced it, so no layer's work is
        billed to the layer downstream of it."""
        if self.tracer.enabled:
            return df.localCheckpoint(eager=True)
        return df

    def _op(self, kind: str, run, check) -> bool:
        """One measured operation: ``run()`` is timed, ``check(result)``
        is not. Returns whether it ran and its output was right."""
        problems: list[str] = []
        procs = self._engine_pids()
        c0, s0 = cpu_s(procs), steal_s()
        t0 = time.perf_counter()
        try:
            result = run()
        except Exception:  # recorded as a failed operation; the loop stops
            traceback.print_exc(file=sys.stderr)
            result, problems = None, ["raised"]
        elapsed = time.perf_counter() - t0
        cpu, steal = cpu_s(procs) - c0, steal_s() - s0
        if result is not None:
            problems = check(result)
        self.ops.append({
            "kind": kind,
            "s": elapsed,
            "cpu_s": cpu,
            "steal_s": steal,
            "ok": not problems,
            "traced": self.tracer.enabled,
            "problems": problems[:5],
        })
        return not problems

    @staticmethod
    def _engine_pids() -> list[int]:
        """The driver, the JVM and the JVM's Python workers."""
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return [os.getpid(), jvm] + descendants(jvm)

    def latencies(self, kind: str, traced: bool = False) -> list[float]:
        return [o["s"] for o in self.ops
                if o["kind"] == kind and o["ok"] and o["traced"] == traced]

    def window_ops(self, traced: bool) -> int:
        """Operations the window of this tracing mode has run."""
        return len(self.op_latencies(traced))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        bad = sum(not o["ok"] for o in self.ops)
        return min(self.attempted, bad + (1 if self.check_failures else 0))


# -- serve -------------------------------------------------------------


class Serve(Workload):
    name = "serve"
    min_ops = 6
    warm_batches = 3

    def __init__(self, seed: int, work: str, tracer: Tracer):
        super().__init__(work, tracer)
        self.paths, self.truth, self.props = gen.serve_inputs(seed, work)
        self.state = dict(self.truth["base"])
        self.deleted_sources: set[str] = set()
        self.next_batch = 0
        self.applied: list[tuple[dict, bool]] = []  # (delta, traced)
        self.touch_share: list[float] = []
        self.delta_s: list[float] = []
        self.timings: dict[str, float] = {}

    # set-up --------------------------------------------------------------
    def setup(self, spark) -> None:
        self.spark = spark
        tr = self.tracer
        self.vi_path = os.path.join(self.work, "vi")
        self.ivfpq_path = os.path.join(self.work, "ivfpq")
        self.lex_path = os.path.join(self.work, "lex")
        corpus = spark.read.parquet(self.paths["corpus"])
        t0 = time.perf_counter()
        with tr.request("setup"):
            with tr.span("sources.index_table", call="create+upsert"):
                self.vi = VectorIndex(spark, self.work, "vi").create(
                    gen.DIM, bucket_count=INDEX_BUCKETS)
                self.vi.upsert(corpus, batch=0)
            keyed = corpus.select(
                key_of().alias("vec_id"), "embedding", "text"
            )
            with tr.span("operators.pq", call="train+write"):
                books, cents = pq.train_books_and_centroids(
                    keyed, m=PQ_M, k=PQ_K, n_centroids=N_CENTROIDS
                )
                pq.write_ivfpq_index(
                    keyed.select("vec_id", "embedding"), self.ivfpq_path,
                    cents, books, normalize=True,
                )
            with tr.span("sources.lexical_index", call="create"):
                self.lex = LexicalIndex(spark, self.lex_path).create(
                    keyed.select(F.col("vec_id").alias("doc_id"), "text"),
                    term_buckets=TERM_BUCKETS, doc_buckets=DOC_BUCKETS,
                )
        self.timings["build_s"] = time.perf_counter() - t0
        n = self.props["rows"]
        self.timings["ingest_chunks_per_s"] = n / self.timings["build_s"]
        self.timings["index_bytes_per_chunk_built"] = self._layout_bytes() / n
        # the refresh: each delta rewrites all three layouts, so the
        # measured batches probe layouts that an upsert has fragmented
        for d in self.truth["deltas"]:
            with tr.request(f"delta{d['batch']}"):
                t0 = time.perf_counter()
                up, dl = self._apply_delta(d)
                self.delta_s.append(time.perf_counter() - t0)
                self.check_failures.extend(self._check_delta(d, up, dl))
        # unmeasured, checked batches: the JVM keeps getting faster over
        # the first executions of each physical plan
        t0 = time.perf_counter()
        for i in range(self.warm_batches):
            batch = self._next_batch()
            with tr.request(f"warm{i}"):
                self.check_failures.extend(
                    self._check_answers(batch, self._serve(batch["path"])))
        self.timings["warm_batches_s"] = time.perf_counter() - t0

    def _layout_bytes(self) -> int:
        return sum(dir_bytes(p) for p in (self.vi_path, self.ivfpq_path, self.lex_path))

    def _next_batch(self) -> dict:
        batches = self.truth["batches"]
        self.next_batch += 1
        return batches[(self.next_batch - 1) % len(batches)]

    # measured loop --------------------------------------------------------
    def step(self) -> bool:
        batch = self._next_batch()
        with self.tracer.request(f"query{self.next_batch}"):
            return self._op("query", lambda: self._serve(batch["path"]),
                            lambda rows: self._check_answers(batch, rows))

    def _apply_delta(self, d: dict) -> tuple[dict, dict]:
        spark, tr, b = self.spark, self.tracer, d["batch"]
        with tr.span("streaming.ingest", call="docs_to_records"):
            # one chunk -> embed execution shared by the three sinks
            # (the multi-sink pattern of start_ingest_stream)
            inserted = docs_to_records(
                spark.read.parquet(d["ins"]), HashEmbedder(dimension=gen.DIM)
            ).localCheckpoint(eager=True)
        records = inserted.unionByName(spark.read.parquet(d["ow"]))
        keyed = records.select(key_of().alias("vec_id"), "embedding", "text")
        dels = spark.read.parquet(d["del"])
        del_keys = dels.select(key_of().alias("vec_id"))
        with tr.span("sources.index_table", call="upsert", write=True):
            self.vi.upsert(records, batch=b)
        with tr.span("sources.index_table", call="delete_ids", write=True):
            self.vi.delete_ids(dels)
        with tr.span("operators.pq", call="upsert_ivfpq_index", write=True):
            up = pq.upsert_ivfpq_index(
                spark, self.ivfpq_path, keyed.select("vec_id", "embedding")
            )
        with tr.span("operators.pq", call="delete_ivfpq_ids", write=True):
            dl = pq.delete_ivfpq_ids(spark, self.ivfpq_path, del_keys)
        with tr.span("sources.lexical_index", call="upsert", write=True):
            self.lex.upsert(
                keyed.select(F.col("vec_id").alias("doc_id"), "text"), batch=b
            )
        with tr.span("sources.lexical_index", call="delete_docs", write=True):
            self.lex.delete_docs(del_keys.select(F.col("vec_id").alias("id")))
        return up, dl

    def _check_delta(self, d: dict, up: dict, dl: dict) -> list[str]:
        self.touch_share.append(
            len(set(up["touched"]) | set(dl["touched"])) / N_CENTROIDS
        )
        self.applied.append((d, self.tracer.enabled))
        for p in d["planted"] + d["overwrites"]:
            self.state[p["id"]] = (p["vec"], p["text"], p["source"])
        for x in d["deletes"]:
            del self.state[x["id"]]
            self.deleted_sources.add(x["source"])
        problems = []
        n_new = len(d["planted"]) + len(d["overwrites"])
        if up["n_upserted"] != n_new:
            problems.append(f"ivfpq upserted {up['n_upserted']} != {n_new}")
        if dl["n_deleted"] != len(d["deletes"]):
            problems.append(f"ivfpq deleted {dl['n_deleted']} != {len(d['deletes'])}")
        return problems

    def _serve(self, query_path: str) -> list:
        """One question batch through the serving path; returns the
        collected answer rows."""
        spark, tr = self.spark, self.tracer
        q = spark.read.parquet(query_path)
        layout_bytes = dir_bytes(self.ivfpq_path) if tr.enabled else 0
        with tr.span("operators.search", layout_bytes=layout_bytes):
            vec = self.materialize(search(
                q.select("query_id", "qvec"), None, k=K_RETRIEVE,
                metric="cosine", layout_path=self.ivfpq_path,
                nprobe=NPROBE, fetch_k=FETCH_K, n_rows=len(self.state),
            ))
        with tr.span("sources.lexical_index", call="bm25_topk"):
            lex = self.materialize(
                self.lex.bm25_topk(q.select("query_id", "text"), k=K_RETRIEVE)
            )
        with tr.span("operators.hybrid"):
            fused = self.materialize(rrf_fuse(
                lex.select("query_id", "doc_id", F.col("bm25_rank").alias("lex_rank")),
                vec.select("query_id", F.col("vec_id").alias("doc_id"),
                           F.col("rank").alias("vec_rank")),
                k=K_FUSED,
            ))
        with tr.span("sources.index_table", call="read"):
            docs = self.vi.read().select(
                key_of().alias("doc_id"), "id", "text", "source"
            )
            matches = self.materialize(fused.join(docs, "doc_id").select(
                "query_id", F.col("id").alias("vec_id"),
                F.col("fused").alias("score"), "rank", "text", "source",
            ))
        with tr.span("operators.rag"):
            answers = assemble_answers(
                q.select("query_id", "question"), build_context(matches),
                echo_generator,
            )
            return answers.collect()

    def _check_answers(self, batch: dict, rows: list) -> list[str]:
        problems = []
        kinds = batch["kinds"]
        if sorted(r["query_id"] for r in rows) != list(range(len(kinds))):
            return [f"{len(rows)} answers for {len(kinds)} questions"]
        for r in rows:
            qid = r["query_id"]
            blocks = _DOC_BLOCK.findall(r["context"])
            ranks = [int(x[0]) for x in blocks]
            if r["n_matches"] != K_FUSED or ranks != list(range(1, K_FUSED + 1)):
                problems.append(f"q{qid}: ranks {ranks}, n_matches {r['n_matches']}")
                continue
            sources = {x[1] for x in blocks}
            if sources & self.deleted_sources:
                problems.append(f"q{qid}: deleted doc returned")
            kind, want = kinds[qid]
            if kind in ("ins", "ow"):
                if (blocks[0][1], blocks[0][2]) != (want["source"], want["text"]):
                    problems.append(f"q{qid}: planted {kind} not at rank 1")
            elif kind == "del" and want["source"] in sources:
                problems.append(f"q{qid}: deleted doc returned")
        return problems

    # end of run -----------------------------------------------------------
    def finish(self) -> dict:
        spark = self.spark
        self._check_layouts()
        q = spark.read.parquet(self.paths["recall_queries"])
        got = search(
            q.select("query_id", "qvec"), None, k=K_RETRIEVE, metric="cosine",
            layout_path=self.ivfpq_path, nprobe=NPROBE, fetch_k=FETCH_K,
            n_rows=len(self.state),
        ).select("query_id", "vec_id").collect()
        ids = list(self.state)
        keys = dict(
            spark.createDataFrame([(i,) for i in ids], "id string")
            .select("id", key_of().alias("k")).collect()
        )
        key_arr = np.array([keys[i] for i in ids], dtype=np.int64)
        V = gen.unit(np.stack([self.state[i][0] for i in ids]))
        qt = q.select("query_id", "qvec").orderBy("query_id").collect()
        Q = gen.unit(np.array([r["qvec"] for r in qt]))
        exact = np.argsort(-(Q @ V.T), axis=1, kind="stable")[:, :K_RETRIEVE]
        found: dict[int, set] = {}
        for r in got:
            found.setdefault(r["query_id"], set()).add(r["vec_id"])
        recall = float(np.mean([
            len(found.get(int(r["query_id"]), set()) & set(key_arr[exact[i]]))
            / K_RETRIEVE
            for i, r in enumerate(qt)
        ]))
        return {"recall": recall}

    def _check_layouts(self) -> None:
        spark = self.spark
        n_vi = self.vi.read().count()
        n_pq = spark.read.parquet(self.ivfpq_path).count()
        n_lex = self.lex.doc_store().count()
        if not n_vi == n_pq == n_lex == len(self.state):
            self.check_failures.append(
                f"row counts vi={n_vi} ivfpq={n_pq} lexical={n_lex} "
                f"expected={len(self.state)}"
            )
        planted = {p["id"]: p for d, _ in self.applied for p in d["planted"]}
        if not planted:
            return
        rows = (
            self.vi.read().filter(F.col("id").isin(list(planted)))
            .select("id", "embedding", "text").collect()
        )
        if len(rows) != len(planted):
            self.check_failures.append(
                f"{len(rows)} of {len(planted)} ingested chunks stored")
        for r in rows:
            p = planted[r["id"]]
            if r["text"] != p["text"] or not np.allclose(
                np.asarray(r["embedding"]), p["vec"], atol=1e-6
            ):
                self.check_failures.append(f"chunk {r['id']} differs from recompute")

    def op_latencies(self, traced: bool = False) -> list[float]:
        return self.latencies("query", traced)

    def named_metrics(self, quality: dict) -> dict:
        queries = self.latencies("query")
        return {
            "ingest_chunks_per_s": self.timings["ingest_chunks_per_s"],
            "index_bytes_per_chunk": self._layout_bytes() / len(self.state),
            "serve_batch_p50_s": _median(queries),
            "recall_at_10": quality["recall"],
            # set-up's refresh deltas; every measured batch runs on the
            # refreshed layouts, so the refresh query latency is the
            # serve batch latency
            "refresh_upsert_p50_s": _median(self.delta_s),
            "refresh_query_p50_s": _median(queries),
        }

    def record(self) -> dict:
        return {
            "inputs": self.props,
            "layout": {
                "ivfpq_centroids": N_CENTROIDS, "pq_m": PQ_M, "pq_k": PQ_K,
                "nprobe": NPROBE, "fetch_k": FETCH_K, "k": K_RETRIEVE,
                "k_fused": K_FUSED, "index_buckets": INDEX_BUCKETS,
                "term_buckets": TERM_BUCKETS, "doc_buckets": DOC_BUCKETS,
                "index_bytes_per_chunk_built":
                    self.timings["index_bytes_per_chunk_built"],
            },
            "delta_partition_touch_share": self.touch_share,
            "delta_s": self.delta_s,
            "timings": self.timings,
        }

    def write_amplification(self, spans) -> dict:
        """Bytes each layer wrote per byte of delta input, over the
        deltas applied while tracing."""
        delta_bytes = sum(d["bytes"] for d, traced in self.applied if traced)
        out = {}
        for layer in WRITE_LAYERS:
            written = sum(s.counters["output_bytes"] for s in spans
                          if s.name == layer and s.tags.get("write"))
            out[f"{layer}.write_amplification"] = (
                written / delta_bytes if delta_bytes else 0.0)
        return out


# -- curate --------------------------------------------------------------


class Curate(Workload):
    name = "curate"
    min_ops = 5
    warm_passes = 3

    def __init__(self, seed: int, work: str, tracer: Tracer):
        super().__init__(work, tracer)
        self.paths, self.truth, self.props = gen.curate_inputs(seed, work)
        self.recall_seen: list[float] = []
        self.timings: dict[str, float] = {}

    def setup(self, spark) -> None:
        self.spark = spark
        # unmeasured passes over the same docs: Spark compiles code for
        # each physical plan, and AQE picks different plans for smaller
        # inputs, so only the same input warms what the measured passes
        # run; pass times keep falling over the first five or so passes
        t0 = time.perf_counter()
        for i in range(self.warm_passes):
            with self.tracer.request(f"warm{i}"):
                self.check_failures.extend(
                    self._check(*self._pass(self.paths["docs"])))
        self.timings["warm_passes_s"] = time.perf_counter() - t0

    def step(self) -> bool:
        with self.tracer.request(f"pass{len(self.ops)}"):
            return self._op("pass", lambda: self._pass(self.paths["docs"]),
                            lambda r: self._check(*r))

    def _pass(self, path: str) -> tuple[set, set, list]:
        tr = self.tracer
        docs = self.spark.read.parquet(path)
        with tr.span("operators.dedup", call="exact_dedup"):
            survivors = self.materialize(dedup.exact_dedup(docs))
            kept_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
        kept = docs.join(survivors.select("doc_id"), "doc_id", "left_semi")
        with tr.span("operators.dedup", call="minhash_lsh_pairs"):
            lsh = {
                (r["id_a"], r["id_b"])
                for r in dedup.minhash_lsh_pairs(kept).collect()
            }
        with tr.span("operators.dedup", call="embedding_neardup_pairs_jl"):
            emb = dedup.embedding_neardup_pairs_jl(
                kept.select(F.col("doc_id").alias("vec_id"), "embedding"),
                threshold=gen.CURATE["embedding_threshold"],
            ).collect()
        return kept_ids, lsh, emb

    def _check(self, kept_ids: set, lsh: set, emb: list) -> list[str]:
        planted = self.truth["planted"]
        problems = []
        n = self.props["rows"]
        if len(kept_ids) != n - len(planted["exact"]):
            problems.append(f"{len(kept_ids)} survivors, expected "
                            f"{n - len(planted['exact'])}")
        found = 0
        for orig, copy in planted["exact"]:
            if copy in kept_ids:
                problems.append(f"exact duplicate {copy} survived")
            elif orig in kept_ids:
                found += 1
        found += sum(pair in lsh for pair in planted["edit"])
        emb_pairs = {(r["id_a"], r["id_b"]) for r in emb}
        found += sum(pair in emb_pairs for pair in planted["embedding"])
        Xu = gen.unit(self.truth["vectors"])
        thr = gen.CURATE["embedding_threshold"]
        for r in emb:
            cos = float(Xu[r["id_a"]] @ Xu[r["id_b"]])
            if cos < thr - 1e-6:
                problems.append(f"pair {r['id_a']},{r['id_b']} cosine {cos:.6f}")
                break
        total = sum(len(v) for v in planted.values())
        self.recall_seen.append(found / total)
        return problems

    def finish(self) -> dict:
        return {"recall": _median(self.recall_seen)}

    def op_latencies(self, traced: bool = False) -> list[float]:
        return self.latencies("pass", traced)

    def named_metrics(self, quality: dict) -> dict:
        passes = self.latencies("pass")
        return {
            "curate_docs_per_s": self.props["rows"] * len(passes) / sum(passes)
            if passes else float("nan"),
            "dedup_pair_recall": quality["recall"],
        }

    def record(self) -> dict:
        return {"inputs": self.props, "timings": self.timings}

    def write_amplification(self, spans) -> dict:
        return {f"{layer}.write_amplification": 0.0 for layer in WRITE_LAYERS}


WORKLOADS = {w.name: w for w in (Serve, Curate)}
