"""Approximate nearest neighbor via IVF (inverted-file) partition
pruning — the scale path for the reference's top-k similarity search
(``/root/reference/app/services/pinecone_service.py:148-182``, which
delegates ANN to the Pinecone service; we implement it as DataFrame
ops per SURVEY.md §4 item 2).

Design (FAISS-style IVF, Spark-first):

1. **Coarse quantizer**: ``k`` centroids. Seed selection is
   deterministic (the ``k`` lowest-id vectors) so the whole pipeline
   is reproducible in the DuckDB oracle; ``lloyd_refine`` improves
   them with standard k-means iterations when quality matters more
   than oracle parity.
2. **Assignment is a map, not a join**: centroids are collected to
   the driver (k·dim doubles — tiny by construction) and inlined as
   a literal array, so every index vector gets its nearest-centroid
   id inside a single narrow projection. No shuffle, no join; at
   100 TB this is one pass over the index, fully parallel.
3. **Layout**: ``write_ivf_index`` writes the assigned index
   partitioned by ``centroid_id``. A probe that joins on
   ``centroid_id`` then touches only ``nprobe`` of ``k`` partitions
   (Parquet partition pruning / dynamic partition pruning at scale).
4. **Probe**: score query↔centroids (tiny), take ``nprobe`` best
   centroids per query, join the (query, centroid) probe pairs
   against the assigned index — a broadcast hash join on
   ``centroid_id`` — and run the exact scorer + per-query top-k
   window on the surviving ~nprobe/k fraction of the index.

Recall is tunable by ``nprobe`` (see the ``ann_ivf_recall`` query:
IVF@nprobe vs the exact scan, per query).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
    dot_product,
    l2_norm,
    similarity_expr,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    check_not_torn,
    delete_keys,
    merge_keys,
    write_json,
)

IVF_META = "_ivf_meta.json"


def _centroid_hash(centroids: list[tuple[int, list[float]]]) -> str:
    """Content hash of a centroid list (order-normalized, exact float
    repr via JSON shortest-roundtrip). Persisted in the layout sidecar
    so an upsert can prove the caller's quantizer IS the build-time
    quantizer — rows assigned under a different centroid list would
    silently land in partitions the probe's pruning never looks at."""
    import hashlib

    canon = json.dumps(
        sorted((int(cid), [float(x) for x in vec]) for cid, vec in centroids)
    )
    return hashlib.md5(canon.encode()).hexdigest()


def seed_centroids(index: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic coarse-quantizer seeds: the ``k`` lowest-id
    vectors, as driver-local ``(centroid_id, vector)`` pairs.
    Centroid ids are the source vector ids (stable, oracle-friendly).
    """
    rows = (
        index.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    return [(int(r["id"]), [float(x) for x in r["v"]]) for r in rows]


def _py_l2(vec: list[float]) -> float:
    """Left-fold sum of squares — the same IEEE op order as the
    Spark/DuckDB folds, so driver-side centroid norms are
    bit-identical to engine-side ones."""
    s = 0.0
    for x in vec:
        s += x * x
    return s ** 0.5


def _centroid_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(cid).cast("int").alias("cid"),
                F.lit(vec).cast("array<double>").alias("cvec"),
                F.lit(_py_l2(vec)).alias("cnorm"),
            )
            for cid, vec in centroids
        ]
    )


def _best_centroids(vec: Column, centroids: list[tuple[int, list[float]]],
                    metric: str, n: int, vec_norm: Column | None = None) -> Column:
    """Array of the ``n`` best centroid ids for ``vec`` — computed
    entirely inside one projection (sort a k-element struct array;
    ties break to the lower centroid id, mirroring the oracle's
    ``ORDER BY sim DESC, cid``).

    For cosine, pass ``vec_norm`` (pre-projected once) — centroid
    norms are baked into the literal — so each of the k comparisons
    folds only the dot product instead of re-folding both norms."""
    carr = _centroid_literal(centroids)
    # euclidean: smaller is better → sort ascending on score;
    # cosine/dot: larger is better → sort ascending on -score
    def keyed(c: Column) -> Column:
        if metric == "cosine" and vec_norm is not None:
            denom = vec_norm * c["cnorm"]
            s = F.when(denom != 0.0, dot_product(vec, c["cvec"]) / denom)
        else:
            s = similarity_expr(metric, vec, c["cvec"])
        key = s if metric == "euclidean" else -s
        return F.struct(key.alias("key"), c["cid"].alias("cid"))

    ranked = F.array_sort(F.transform(carr, keyed))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cid"])


def assign_centroids(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Add ``centroid_id`` = nearest centroid, as a narrow map stage
    (no shuffle — see module doc #2)."""
    v = F.col(vec_col).cast("array<double>")
    if metric == "cosine":
        index = index.withColumn("__vnorm", l2_norm(v))
        best = _best_centroids(v, centroids, metric, 1, vec_norm=F.col("__vnorm"))
        return index.withColumn(out_col, best[0]).drop("__vnorm")
    best = _best_centroids(v, centroids, metric, 1)
    return index.withColumn(out_col, best[0])


def _centroid_matrix(centroids: list[tuple[int, list[float]]], metric: str):
    import numpy as np

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    if metric == "cosine":
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
    return cids, C


def assign_centroids_gemm(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """GEMM variant of ``assign_centroids`` for the build path: one
    ``mapInArrow`` matmul per Arrow batch instead of k interpreted
    folds per row (~50x at k=64). Same nearest-centroid argmax with
    the same lowest-cid tiebreak (np.argmax keeps the first maximum
    and the centroid list is cid-ordered). Use the expression form
    when bit-exact oracle parity matters."""
    import numpy as np

    cids, C = _centroid_matrix(centroids, metric)
    names = index.columns
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in index.schema.fields]
        + [f"{out_col} int"]
    )
    vec_idx = names.index(vec_col)

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            vec_arr = rb.column(vec_idx)
            if isinstance(vec_arr, pa.ChunkedArray):
                vec_arr = vec_arr.combine_chunks()
            B = (
                vec_arr.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, -1)
                .astype(np.float64, copy=False)
            )
            if metric == "cosine":
                with np.errstate(divide="ignore", invalid="ignore"):
                    B = B / np.linalg.norm(B, axis=1, keepdims=True)
                best = np.argmax(np.nan_to_num(B @ C.T, nan=-np.inf), axis=1)
            elif metric == "dotproduct":
                best = np.argmax(B @ C.T, axis=1)
            else:  # euclidean
                d2 = (B * B).sum(axis=1)[:, None] - 2.0 * (B @ C.T) + (C * C).sum(axis=1)[None, :]
                best = np.argmin(d2, axis=1)
            assigned = pa.array(cids[best].astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in range(rb.num_columns)] + [assigned],
                names=names + [out_col],
            )

    return index.mapInArrow(kernel, out_schema)


MAX_GEMM_QUERIES = 4096  # driver-collect bound for GEMM query sides


def collect_query_matrix(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    metric: str,
    max_queries: int = MAX_GEMM_QUERIES,
):
    """Collect the (bounded) query side for a GEMM kernel.

    The collect is capped via ``limit(max_queries + 1)`` so an
    oversized query side fails loudly with a clear error BEFORE
    materializing on the driver — misuse can't OOM it. Zero-norm
    query vectors are rejected under cosine (their similarity is
    undefined; the expression path yields NULL scores, which a dense
    kernel cannot represent)."""
    import numpy as np

    qrows = (
        queries.select(
            F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"GEMM query side exceeds {max_queries} rows; the query matrix "
            "is collected to the driver by design (bounded user questions). "
            "For corpus-scale 'query' sides use the join/expression paths, "
            "or raise max_queries explicitly."
        )
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.array([list(r["qv"]) for r in qrows], dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(Q, axis=1)
        if (norms == 0).any():
            bad = qids[norms == 0][:5].tolist()
            raise ValueError(f"zero-norm query vectors under cosine: ids {bad}")
        Qm = Q / norms[:, None]
    else:
        Qm = Q
    return qids, Q, Qm


def ivf_topk_gemm(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = MAX_GEMM_QUERIES,
    pre_filter=None,
) -> DataFrame:
    """Production probe: GEMM scoring over an ``assigned`` index
    (``write_ivf_index`` layout), any of the reference's three metrics
    (``pinecone_service.py:33-39``). Probe sets are computed
    driver-side from the centroid matrix (tiny), the scan is
    statically pruned to the probed buckets, and each Arrow batch is
    scored bucket-by-bucket against only the queries probing it.

    Zero-norm index vectors under cosine are dropped before top-k
    selection (the expression path gives them NULL scores, which sort
    last; a NaN from 0/0 would instead sort FIRST in descending numpy
    partitions — the one place the two paths could diverge).

    Transparently handles int8-compressed layouts
    (``write_ivf_index(compression="int8")``): when the index carries
    ``q8``/``q8_scale`` instead of the vector column, each Arrow batch
    is dequantized in-kernel (one int8→float64 multiply) before the
    GEMM — the scan moves ~4x fewer bytes."""
    import numpy as np

    compressed = "q8" in index.columns and vec_col not in index.columns
    cids, C = _centroid_matrix(centroids, metric)
    qids, Q, Qm = collect_query_matrix(
        queries, query_id_col, query_vec_col, metric, max_queries
    )
    # top-nprobe buckets per query, lowest-cid tiebreak via stable sort
    if metric == "euclidean":
        key = (
            -2.0 * (Q @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )  # |q|^2 constant per row — irrelevant to the argsort
    else:
        key = -(Qm @ C.T)
    order = np.argsort(key, axis=1, kind="stable")[:, :nprobe]
    probed_per_q = [set(cids[row].tolist()) for row in order]
    probed_union = sorted(set().union(*probed_per_q))

    pruned = index.filter(F.col("centroid_id").isin(probed_union))
    if pre_filter is not None:
        # Pinecone-style filtered ANN: the metadata predicate lands in
        # the SAME pruned scan (PushedFilters next to PartitionFilters)
        # — filtered rows never reach the GEMM kernel
        pruned = pruned.filter(pre_filter)
    names = ["query_id", "vec_id", "score"]
    smaller_better = metric == "euclidean"
    q_sq = (Q * Q).sum(axis=1)

    # queries probing each bucket, precomputed once per worker
    q_by_bucket: dict[int, "np.ndarray"] = {}
    for qi, s in enumerate(probed_per_q):
        for c in s:
            q_by_bucket.setdefault(c, []).append(qi)
    q_by_bucket = {c: np.array(v, dtype=np.int64) for c, v in q_by_bucket.items()}

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            name_list = rb.schema.names
            ids = rb.column(name_list.index("vec_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            bucket = rb.column(name_list.index("centroid_id")).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            vec_arr = rb.column(name_list.index("q8" if compressed else "__vec"))
            if isinstance(vec_arr, pa.ChunkedArray):
                vec_arr = vec_arr.combine_chunks()
            B = (
                vec_arr.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, -1)
                .astype(np.float64, copy=False)
            )
            if compressed:
                scales = rb.column(name_list.index("q8_scale")).to_numpy(
                    zero_copy_only=False
                )
                B = B * scales[:, None]
            if metric == "cosine":
                bn = np.linalg.norm(B, axis=1)
                valid = bn != 0
                if not valid.all():
                    ids, bucket, B, bn = ids[valid], bucket[valid], B[valid], bn[valid]
                    if B.shape[0] == 0:
                        continue
                B = B / bn[:, None]
            out_q, out_i, out_s = [], [], []
            # the layout is partitioned by centroid_id, so a batch
            # holds one (rarely a few) buckets: score each bucket's
            # rows against ONLY the queries that probe it — compute
            # is exactly the probed (query, vector) pairs
            for c in np.unique(bucket):
                qsel = q_by_bucket.get(int(c))
                if qsel is None:
                    continue
                rsel = np.nonzero(bucket == c)[0]
                if metric == "euclidean":
                    Bb = B[rsel]
                    S = np.sqrt(
                        np.maximum(
                            (Bb * Bb).sum(axis=1)[:, None]
                            - 2.0 * (Bb @ Qm[qsel].T)
                            + q_sq[qsel][None, :],
                            0.0,
                        )
                    )
                else:
                    S = B[rsel] @ Qm[qsel].T  # (rows_in_bucket, probing_q)
                kk = min(k, len(rsel))
                part = np.argpartition(S if smaller_better else -S, kk - 1, axis=0)[
                    :kk, :
                ]
                rows_q = np.repeat(np.arange(len(qsel)), kk)
                rows_i = part.T.reshape(-1)
                out_q.append(qids[qsel][rows_q])
                out_i.append(ids[rsel][rows_i])
                out_s.append(S[rows_i, rows_q])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=pa.int64()),
                        pa.array(np.concatenate(out_i), type=pa.int64()),
                        pa.array(np.concatenate(out_s), type=pa.float64()),
                    ],
                    names=names,
                )

    cand_cols = [F.col(id_col).alias("vec_id"), F.col("centroid_id")] + (
        [F.col("q8"), F.col("q8_scale")]
        if compressed
        else [F.col(vec_col).alias("__vec")]
    )
    cand = pruned.select(*cand_cols).mapInArrow(
        kernel, "query_id long, vec_id long, score double"
    )
    lead = F.col("score").asc() if smaller_better else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(lead, F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def ivf_topk_rerank(
    queries: DataFrame,
    compressed_layout: DataFrame,
    full_index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    expand: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage probe for int8 layouts: quantized GEMM generates
    ``expand·k`` candidates per query (cheap — 4x fewer scan bytes),
    then ONLY those candidates are re-scored against the
    full-precision vectors. Quantization error reorders near-ties, so
    candidate RECALL survives compression much better than candidate
    RANKING — rerank recovers the exact ordering within the candidate
    set (scale_check: 0.43 → ~1.0 recall@10 on a near-duplicate-dense
    corpus).

    Plan shape: candidate ids (|Q|·expand·k rows — driver-bounded) are
    BROADCAST against the full index scan, so the big side is filtered
    in place, never shuffled; then queries broadcast for exact
    scoring; final per-query top-k window is O(|Q|·k·partitions).
    """
    cand = ivf_topk_gemm(
        queries,
        compressed_layout,
        centroids,
        k=expand * k,
        nprobe=nprobe,
        metric=metric,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "vec_id")

    qv = F.col(query_vec_col).cast("array<double>")
    qb = queries.select(
        F.col(query_id_col).alias("query_id"),
        qv.alias("__qvec"),
        *([l2_norm(qv).alias("__qnorm")] if metric == "cosine" else []),
    )
    idx = full_index.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__vec")
    )
    pairs = idx.join(F.broadcast(cand), "vec_id").join(F.broadcast(qb), "query_id")
    if metric == "cosine":
        denom = F.col("__qnorm") * l2_norm(F.col("__vec"))
        score = F.when(
            denom != 0.0, dot_product(F.col("__qvec"), F.col("__vec")) / denom
        )
    else:
        score = similarity_expr(metric, F.col("__qvec"), F.col("__vec"))
    scored = pairs.select("query_id", "vec_id", score.alias("score"))
    lead = F.col("score").asc() if metric == "euclidean" else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(lead, F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def write_ivf_index(
    index: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    metric: str = "cosine",
    vec_col: str = "embedding",
    fast: bool = True,
    compression: str | None = None,
) -> None:
    """Materialize the IVF layout: parquet partitioned by
    ``centroid_id`` so probes prune to ``nprobe`` directories.
    ``fast=True`` assigns via the GEMM kernel (build throughput);
    ``fast=False`` uses the expression form (bit-exact with the
    oracle queries).

    ``compression="int8"`` stores symmetric per-vector int8
    quantization (``q8`` array<tinyint> + ``q8_scale``) INSTEAD of the
    float vector — ~4x smaller on disk and in scan, the standard
    memory lever for billion-vector indexes. Assignment still happens
    on the full-precision vectors; the probe dequantizes in-kernel
    (``ivf_topk_gemm`` detects the layout). Reconstruction error is
    bounded by max|x|/254 per coordinate (see
    ``functions.vector.quantize_int8``; quality profiled by the
    ``vector_quantization_error`` query)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        quantization_scale,
        quantize_int8,
    )

    if compression not in (None, "int8"):
        raise ValueError("compression must be None or 'int8'")
    assign = assign_centroids_gemm if fast else assign_centroids
    assigned = assign(index, centroids, metric, vec_col)
    if compression == "int8":
        assigned = _compress_int8(assigned, vec_col)
    # sidecar row count rides the write job as an observed metric
    # instead of a separate footer-read count() job after it.
    # At-scale caveat (ADVICE r15): observed metrics accumulate per
    # ATTEMPTED task, so stage retries / speculative duplicates can
    # over-count. n_rows here is a freshness/staleness indicator for
    # probe-time drift checks, not an exactness contract — keep the
    # footer re-count for any path where the count must be exact, or
    # disable speculation for these writes.
    from pyspark.sql import Observation

    obs = Observation()
    (
        assigned.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    n_rows = int(obs.get["n"])
    write_json(
        os.path.join(path, IVF_META),
        {
            "metric": metric,
            "compression": compression,
            "n_centroids": len(centroids),
            # the full build-time quantizer (k·dim doubles — small by
            # construction) + its content hash: upserts after a process
            # restart recover the EXACT centroids instead of
            # re-deriving different ones from the mutated corpus
            "centroids": [
                [int(cid), [float(x) for x in vec]] for cid, vec in centroids
            ],
            "centroid_hash": _centroid_hash(centroids),
            "vec_col": vec_col,
            "rows_at_build": n_rows,
            "upserted_since_build": 0,
        },
    )


def _compress_int8(assigned: DataFrame, vec_col: str) -> DataFrame:
    """Replace the float vector column with symmetric per-vector int8
    quantization (``q8`` + ``q8_scale``) — shared by the build and the
    incremental-upsert paths so both produce bit-identical layouts."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        quantization_scale,
        quantize_int8,
    )

    keep = [c for c in assigned.columns if c != vec_col]
    return assigned.withColumn("q8_scale", quantization_scale(vec_col)).select(
        *keep,
        "q8_scale",
        quantize_int8(vec_col, F.col("q8_scale")).alias("q8"),
    )


def ivf_meta(path: str) -> dict:
    """Read the layout's build/maintenance sidecar."""
    with open(os.path.join(path, IVF_META)) as f:
        return json.load(f)


def load_centroids(path: str) -> list[tuple[int, list[float]]]:
    """Recover the exact build-time quantizer from the layout sidecar
    (survives process restarts — ``seed_centroids`` re-run against the
    since-mutated corpus would yield a DIFFERENT list)."""
    meta = ivf_meta(path)
    if "centroids" not in meta:
        raise ValueError(
            f"layout at {path} predates centroid persistence (no 'centroids' "
            "in sidecar); rebuild with write_ivf_index to enable recovery"
        )
    return [(int(cid), [float(x) for x in vec]) for cid, vec in meta["centroids"]]


def ivf_staleness(path: str) -> float:
    """Fraction of the layout changed (upserted + deleted) since the
    last full build — the retrain trigger (centroids drift as the
    corpus moves, and deletions remove mass the quantizer was trained
    on; rebuild when this crosses a policy bound, e.g. 0.2)."""
    meta = ivf_meta(path)
    changed = int(meta.get("upserted_since_build", 0)) + int(
        meta.get("deleted_since_build", 0)
    )
    return changed / max(meta["rows_at_build"] or 1, 1)


def read_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Read the layout back, failing loudly on a torn partition swap."""
    check_not_torn(path)
    return spark.read.parquet(path)


def upsert_ivf_index(
    spark: SparkSession,
    path: str,
    records: DataFrame,
    centroids: list[tuple[int, list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fast: bool = True,
) -> dict:
    """Incrementally merge ``records`` into an existing
    ``write_ivf_index`` layout — the ANN-side analogue of the flat
    index's bucketed upsert, so streaming ingest (S8) keeps the search
    index current without a full rebuild (VERDICT r2 "what's wrong"
    #2).

    Cost is O(|batch| + |touched centroid partitions|), not O(|index|):

    1. assign each record to its nearest centroid (GEMM kernel by
       default; expression form with ``fast=False`` for bit-exact
       oracle parity) — a narrow map, no shuffle;
    2. ``sources.layout.merge_keys`` rewrites only the partitions of
       the new rows and of the OLD versions of their ids (found by a
       broadcast join against the layout's column-pruned
       ``(id, centroid_id)`` scan; at 100 TB co-maintain the
       id→centroid pair in the id-bucketed flat index instead, making
       this lookup O(|batch|)), then bump the sidecar's staleness
       counter.

    Metric and compression are read from the sidecar, so the merged
    partitions are produced by the same kernels as the original build.
    The quantizer is too: ``centroids=None`` (the default) loads the
    exact build-time centroid list back from the sidecar; a caller-
    supplied list is validated against the persisted content hash and
    REJECTED on mismatch — rows assigned under a different quantizer
    would silently corrupt nprobe pruning (partitions inconsistent
    with the existing layout, no error at probe time).

    Intra-batch duplicates resolve by the same total order as the flat
    index's ``merge_last_write_wins`` (md5 over the payload), so a
    micro-batch carrying one ``vec_id`` twice — possibly assigned to
    two different centroids — contributes exactly one survivor row.

    Returns ``{"touched": [...], "n_upserted": int, "staleness": float}``.
    """
    check_not_torn(path)
    meta = ivf_meta(path)
    metric, compression = meta["metric"], meta.get("compression")
    if centroids is None:
        centroids = load_centroids(path)
    elif "centroid_hash" in meta:
        got = _centroid_hash(centroids)
        if got != meta["centroid_hash"]:
            raise ValueError(
                f"centroid list does not match the layout's build-time "
                f"quantizer (hash {got} != {meta['centroid_hash']}); pass "
                "centroids=None to use the persisted list, or rebuild with "
                "write_ivf_index to change quantizers"
            )
    elif len(centroids) != meta["n_centroids"]:
        # pre-persistence sidecar: length is the only check available
        raise ValueError(
            f"centroid count {len(centroids)} != layout's n_centroids "
            f"{meta['n_centroids']}"
        )
    assign = assign_centroids_gemm if fast else assign_centroids
    assigned = assign(records, centroids, metric, vec_col)
    # intra-batch LWW: one survivor per id, same md5-payload total
    # order as merge_last_write_wins (deterministic across runs)
    payload = sorted(c for c in assigned.columns if c != id_col)
    dw = Window.partitionBy(id_col).orderBy(
        F.md5(F.to_json(F.struct(*payload))).asc()
    )
    assigned = (
        assigned.withColumn("__rn", F.row_number().over(dw))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .localCheckpoint(eager=True)
    )
    n_new = assigned.count()
    if n_new == 0:
        return {"touched": [], "n_upserted": 0, "staleness": ivf_staleness(path)}
    fresh = _compress_int8(assigned, vec_col) if compression == "int8" else assigned
    touched = merge_keys(
        spark.read.parquet(path), path, "centroid_id", fresh, id_col
    )
    meta["upserted_since_build"] = int(meta.get("upserted_since_build", 0)) + n_new
    write_json(os.path.join(path, IVF_META), meta)
    return {
        "touched": touched,
        "n_upserted": n_new,
        "staleness": ivf_staleness(path),
    }


def delete_ivf_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame | list[int],
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten / takedown propagation for the float IVF
    layout: only the centroid partitions that HOLD the ids are
    rewritten (a partition emptied by the delete disappears from the
    layout); untouched partitions stay byte-identical. Deleting absent
    ids is a no-op. Deletions count into ``deleted_since_build`` — quantizer
    drift exactly like upserts — so :func:`ivf_staleness` fires the
    retrain policy on churn, not only growth. Composes with
    ``VectorIndex.delete_ids`` / ``LexicalIndex.delete_docs`` /
    ``pq.delete_ivfpq_ids`` for cross-layout takedown of a document.

    Returns ``{"touched": [...], "n_deleted": int, "staleness": float}``.
    """
    check_not_torn(path)
    meta = ivf_meta(path)
    if isinstance(ids, list):
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    else:
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    touched, n_deleted = delete_keys(
        spark.read.parquet(path), path, "centroid_id", ids_df, id_col
    )
    if not touched:
        return {"touched": [], "n_deleted": 0, "staleness": ivf_staleness(path)}
    meta["deleted_since_build"] = (
        int(meta.get("deleted_since_build", 0)) + n_deleted
    )
    write_json(os.path.join(path, IVF_META), meta)
    return {
        "touched": touched,
        "n_deleted": n_deleted,
        "staleness": ivf_staleness(path),
    }


def ivf_topk(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: bool = False,
) -> DataFrame:
    """IVF-pruned top-k: exact scoring restricted to the ``nprobe``
    most promising centroid buckets per query.

    ``assigned=True`` means ``index`` already carries ``centroid_id``
    (e.g. read back from ``write_ivf_index`` — the production path,
    which also gets partition pruning); otherwise assignment is
    computed on the fly in the same scan.
    """
    qv = F.col(query_vec_col).cast("array<double>")
    qbase = queries.select(
        F.col(query_id_col).alias("query_id"),
        qv.alias("__qvec"),
        *( [l2_norm(qv).alias("__qnorm")] if metric == "cosine" else [] ),
    )
    probe_pairs = qbase.select(
        "query_id",
        "__qvec",
        *( ["__qnorm"] if metric == "cosine" else [] ),
        F.explode(
            _best_centroids(
                F.col("__qvec"),
                centroids,
                metric,
                nprobe,
                vec_norm=F.col("__qnorm") if metric == "cosine" else None,
            )
        ).alias("centroid_id"),
    )
    if assigned:
        # static partition-prune: the union of probed buckets is tiny
        # and known up front (|Q| x nprobe driver-side rows), so an
        # isin filter guarantees the parquet scan skips unprobed
        # centroid_id partitions without relying on DPP kicking in
        probed = [
            r["centroid_id"]
            for r in probe_pairs.select("centroid_id").distinct().collect()
        ]
        idx = index.filter(F.col("centroid_id").isin(probed))
    else:
        idx = assign_centroids(index, centroids, metric, vec_col)
    if metric == "cosine":
        idx = idx.withColumn("__vnorm", l2_norm(F.col(vec_col).cast("array<double>")))
        denom = F.col("__qnorm") * F.col("__vnorm")
        score = F.when(
            denom != 0.0, dot_product(F.col("__qvec"), F.col(vec_col)) / denom
        )
    else:
        score = similarity_expr(metric, F.col("__qvec"), F.col(vec_col))
    scored = idx.join(F.broadcast(probe_pairs), "centroid_id").select(
        "query_id",
        F.col(id_col).alias("vec_id"),
        score.alias("score"),
    )
    lead = F.col("score").asc() if metric == "euclidean" else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(lead, F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def split_skewed_centroids(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    max_rows: int,
    metric: str = "cosine",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rounds: int = 5,
    fast: bool = True,
) -> list[tuple[int, list[float]]]:
    """Split oversized IVF cells before materializing the layout
    (VERDICT r2 "what's wrong" #3): on skewed corpora (near-duplicate
    blobs, hot topics) one centroid can swallow a large fraction of
    the index, making its partition the straggler task of every probe
    and defeating nprobe pruning.

    Each round: assign → count cells → for every cell above
    ``max_rows``, replace its centroid with ``ceil(n/max_rows)``
    sub-seeds (the lowest-id member vectors — same deterministic seed
    rule as :func:`seed_centroids`); repeat until no cell exceeds the
    bound or ``max_rounds``. Sub-seed ids are member vec_ids, so ids
    stay globally unique and stable (a centroid's own source vector
    always self-assigns, so a kept centroid's id can never reappear as
    another cell's seed). The returned list is cid-sorted — the
    argmax-tiebreak contract of the GEMM kernels.

    Per round: one narrow assignment pass + one groupBy count + one
    windowed seed-pick over only the oversized cells. The final
    histogram is what ``ann_ivf_partition_sizes`` reports; probes use
    the returned centroid list unchanged (scale nprobe with the split
    factor to hold recall).

    Sub-seed id uniqueness is enforced, not assumed: kept centroids'
    cids are excluded from sub-seed candidacy (the "member vector
    self-assigns" argument fails under exact ties and never held for
    ``lloyd_refine``'d means), and split cells are disjoint, so the
    returned cid list is always duplicate-free — guarded by an
    invariant check that raises rather than silently breaking the GEMM
    argmax tiebreak. Failing to reach the bound within ``max_rounds``
    (e.g. a cell of exact-duplicate vectors, which no quantizer can
    separate) warns instead of returning silently."""
    import math
    import warnings

    cur = sorted(centroids)
    assign = assign_centroids_gemm if fast else assign_centroids
    need: dict[int, int] = {}
    for _ in range(max_rounds):
        assigned = assign(index, cur, metric, vec_col)
        counts = {
            int(r["centroid_id"]): int(r["n"])
            for r in assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        need = {
            cid: math.ceil(n / max_rows) for cid, n in counts.items() if n > max_rows
        }
        if not need:
            break
        # sub-seed ids must not collide with KEPT centroids' cids. The
        # "a centroid's own source vector self-assigns" invariant breaks
        # under exact ties (two identical centroids → all tied rows,
        # including a centroid's own member vector, collapse into the
        # tiebreak winner's cell), and lloyd_refine'd means never had it
        # — so exclude kept cids from candidacy outright. Split cells
        # are disjoint, so sub-seeds can't collide with each other.
        kept_cids = [cid for cid, _ in cur if cid not in need]
        w = Window.partitionBy("centroid_id").orderBy(F.col(id_col).asc())
        seed_rows = (
            assigned.filter(F.col("centroid_id").isin(list(need)))
            .filter(~F.col(id_col).isin(kept_cids))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max(need.values()))
            .select(
                "centroid_id",
                F.col(id_col).alias("__sid"),
                F.col(vec_col).cast("array<double>").alias("__svec"),
                "__rn",
            )
            .collect()
        )
        by_cell: dict[int, list] = {}
        for r in seed_rows:
            by_cell.setdefault(int(r["centroid_id"]), []).append(r)
        nxt = [(cid, vec) for cid, vec in cur if cid not in need]
        for cid, rows in by_cell.items():
            rows.sort(key=lambda r: r["__rn"])
            for r in rows[: need[cid]]:
                nxt.append((int(r["__sid"]), [float(x) for x in r["__svec"]]))
        cur = sorted(nxt)
        cids = [cid for cid, _ in cur]
        if len(set(cids)) != len(cids):
            dupes = sorted({c for c in cids if cids.count(c) > 1})[:5]
            raise ValueError(
                f"duplicate centroid ids after split: {dupes} — invariant "
                "violation (kept cids are excluded from sub-seed candidacy "
                "and split cells are disjoint); please report"
            )
    if need:
        # the loop exhausted max_rounds with cells still oversized in
        # its LAST count; the final split may or may not have fixed
        # them — surface it rather than return silently
        warnings.warn(
            f"split_skewed_centroids: {len(need)} cell(s) still exceeded "
            f"max_rows={max_rows} entering the final round (worst needed "
            f"{max(need.values())}-way split); the size bound may still be "
            "violated — raise max_rounds or max_rows",
            RuntimeWarning,
            stacklevel=2,
        )
    return cur


def lloyd_refine(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 2,
    metric: str = "euclidean",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Standard k-means refinement of the seed centroids: assign →
    per-cluster element-wise mean → repeat.

    The mean is ``posexplode`` + ``groupBy(centroid_id, pos)`` — ONE
    aggregate expression regardless of dimension, not a per-dimension
    ``avg(v[i])`` fan-out (which at production dims, 1024-3072, means
    thousands of aggregate expressions and a codegen blowup). The
    explode never materializes N·dim rows: hash aggregation is
    partial, so each task ships at most k·dim partial sums into the
    single shuffle, and k·dim finals come back to the driver (tiny)
    to be re-inlined.

    Empty clusters keep their previous centroid.
    """
    dim = len(centroids[0][1])
    cur = centroids
    for _ in range(iters):
        assigned = assign_centroids_gemm(index, cur, metric, vec_col)
        v = F.col(vec_col).cast("array<double>")
        means = (
            assigned.select("centroid_id", F.posexplode(v).alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = float(r["m"])
        cur = [
            (cid, [by_cid[cid][i] for i in range(dim)] if cid in by_cid else vec)
            for cid, vec in cur
        ]
    return cur
