"""Training-sequence packing — the last batch-construction stage of an
LLM data pipeline: concatenate variable-length documents into
fixed-token-budget training sequences with minimal padding waste.

The packer is greedy NEXT-FIT in deterministic key order within a
shard: walk the shard's docs by ascending id, append to the current
sequence while it fits, else start a new one. Next-fit (vs first-fit-
decreasing) is the standard streaming choice at corpus scale: one
pass, O(1) state, and — because the decision depends only on the
PREFIX of the shard's doc list — fully deterministic and incrementally
extendable (appending new docs never reshuffles old assignments,
the same append-stability the ingest paths rely on).

Scale shape: ONE shuffle to co-locate each shard, then a linear
Arrow-batched pass per shard (``applyInPandas``). Sequential state
makes this inherently per-partition imperative — exactly the seam the
engine reserves Pandas kernels for. Shards are independent streams;
``shards`` ≈ cluster parallelism bounds every group to ~1/shards of
the corpus. Padding waste is measured, not guessed:
``packing_stats`` rolls up fill-rate per shard.

The reference engine has no batch-construction stage (RAG service);
this is a SURVEY.md north-star extension like ``operators/sampling``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "id long, shard int, seq long, offset long, size long"


def next_fit(
    sizes,
    budget: int,
    start_seq: int = 0,
    start_fill: int = 0,
    continue_open_bin: bool = False,
) -> tuple[list[int], list[int], int, int]:
    """The pure next-fit kernel shared by the batch packer and the
    streaming continuation (``streaming/packing.py``): walk ``sizes``
    in order, append to the current bin while it fits, else open a new
    one. Returns (seqs, offsets, final_seq, final_fill) — the final
    pair is the open-bin state a later call resumes from with
    ``continue_open_bin=True`` (the first size then overflow-checks
    against ``start_fill`` instead of unconditionally joining bin 0).

    Deterministic and PREFIX-STABLE: the assignment of element i
    depends only on sizes[0..i], so packing a stream incrementally
    equals packing it in one shot (property-tested)."""
    seqs: list[int] = []
    offs: list[int] = []
    seq, fill = start_seq, start_fill
    for i, s in enumerate(sizes):
        s = int(s)
        if s < 0:
            raise ValueError(f"negative size at position {i}: {s}")
        if (i > 0 or continue_open_bin) and fill + s > budget:
            seq += 1
            fill = 0
        offs.append(fill)
        seqs.append(seq)
        fill += s
    return seqs, offs, seq, fill


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_tokens",
    budget: int = 2048,
    shards: int = 32,
) -> DataFrame:
    """Assign every document a (shard, seq, offset) packing slot:
    ``shard = id mod shards``; within a shard, docs are packed in
    ascending-id order into sequences of at most ``budget`` tokens
    (greedy next-fit). A document larger than the budget gets a
    sequence of its own (never split — span-splitting is the
    chunker's job upstream).

    Rows with NULL size are excluded (no defined length to pack);
    sizes must be >= 0. Output: (id_col, shard, seq, offset, size),
    where ``offset`` is the token position of the doc inside its
    sequence and (shard, seq) is the globally-unique sequence key.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(size_col).cast("long").alias("size"),
        F.pmod(F.col(id_col).cast("long"), F.lit(shards)).cast("int").alias("shard"),
    ).filter(F.col("size").isNotNull())

    def kernel(pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        if (pdf["size"] < 0).any():
            bad = pdf.loc[pdf["size"] < 0, "id"].iloc[0]
            raise ValueError(f"negative size for id {bad}")
        seqs, offs, _, _ = next_fit(pdf["size"], budget)
        pdf["seq"] = seqs
        pdf["offset"] = offs
        return pdf[["id", "shard", "seq", "offset", "size"]]

    out = base.groupBy("shard").applyInPandas(kernel, PACK_SCHEMA)
    return out.withColumnRenamed("id", id_col)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Fill-rate rollup per shard: (shard, n_docs, n_seqs, total_tokens,
    fill_rate) where fill_rate = tokens / (sequences × budget) — the
    padding-waste metric that tells you whether the budget/shard
    choice is right BEFORE a 100 TB run burns the difference.
    Sequences holding one oversized doc can push a shard above 1.0."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    return (
        packed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("seq").alias("n_seqs"),
            F.sum("size").alias("total_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "n_seqs",
            "total_tokens",
            F.round(
                F.col("total_tokens")
                / (F.col("n_seqs") * F.lit(float(budget))),
                6,
            ).alias("fill_rate"),
        )
    )


def epoch_shuffle(
    packed: DataFrame,
    seed: int,
    epoch: int,
    out_shards: int = 32,
) -> DataFrame:
    """Deterministic per-epoch global permutation of packed SEQUENCES
    — the shuffle a training run applies between epochs so batch
    composition varies while staying reproducible from (seed, epoch).

    Every (shard, seq) sequence key gets a pseudorandom sort key
    ``md5(seed:epoch:shard:seq)`` (md5 because Spark and DuckDB
    compute it identically, the repo's cross-engine hash convention —
    cf. the JL sign matrix); the first 8 hex chars mod ``out_shards``
    pick the sequence's epoch shard, and ``epoch_pos`` is its rank
    within that shard by (key, shard, seq). The permutation is a pure
    function of the key, so it is fully value-checkable and needs NO
    global ordering: the only window is per-epoch-shard — the same
    bounded-sort shape ``write_training_shards`` uses. Different
    epochs draw independent keys → different permutations; the same
    (seed, epoch) always reproduces the same one.

    Output: (shard, seq, epoch_shard, epoch_pos).
    """
    if out_shards <= 0:
        raise ValueError(f"out_shards must be positive, got {out_shards}")
    from pyspark.sql import Window

    seqs = packed.select("shard", "seq").distinct()
    key = F.md5(
        F.concat_ws(
            ":",
            F.lit(int(seed)),
            F.lit(int(epoch)),
            F.col("shard"),
            F.col("seq"),
        )
    )
    keyed = seqs.select(
        "shard",
        "seq",
        key.alias("__k"),
    ).withColumn(
        "epoch_shard",
        F.pmod(
            F.conv(F.substring("__k", 1, 8), 16, 10).cast("bigint"),
            F.lit(out_shards),
        ).cast("int"),
    )
    w = Window.partitionBy("epoch_shard").orderBy(
        F.col("__k").asc(), F.col("shard").asc(), F.col("seq").asc()
    )
    return keyed.select(
        "shard",
        "seq",
        "epoch_shard",
        (F.row_number().over(w) - 1).cast("long").alias("epoch_pos"),
    )


def epoch_pack_assignment(
    packed: DataFrame,
    seed: int,
    epoch: int,
    out_shards: int = 32,
) -> DataFrame:
    """The epoch's loader-ready assignment: re-key every packed doc to
    (shard=epoch_shard, seq=epoch_pos) so the frame feeds
    :func:`write_training_shards` unchanged — each epoch materializes
    as its own physically-ordered shard layout. Join is on the
    sequence key (sequence-count-sized, broadcastable at typical
    budgets)."""
    perm = epoch_shuffle(packed, seed, epoch, out_shards)
    return (
        packed.withColumnRenamed("shard", "__os")
        .withColumnRenamed("seq", "__oq")
        .join(
            perm.withColumnRenamed("shard", "__os").withColumnRenamed(
                "seq", "__oq"
            ),
            ["__os", "__oq"],
        )
        .drop("__os", "__oq")
        .withColumnRenamed("epoch_shard", "shard")
        .withColumnRenamed("epoch_pos", "seq")
    )


def write_training_shards(
    packed_docs: DataFrame,
    path: str,
    budget: int,
) -> None:
    """Materialize the packed corpus as physically-ordered training
    shards — the artifact a sequential data loader streams: parquet
    partitioned by ``shard``, ONE file per shard, rows sorted by
    (seq, offset) so a plain file read yields documents in exact
    training-sequence order (no loader-side sort, no random IO).

    ``packed_docs`` is the :func:`pack_sequences` output joined back
    to whatever payload the loader needs (text/token columns). The
    shard is the repartition key, so each shard's rows land in exactly
    one task → one file; sorting is per-partition (no global sort —
    shards are independent streams, the same reason packing shards in
    the first place).

    A ``_manifest.json`` (per-shard docs/sequences/tokens/fill-rate +
    the budget) is written LAST as the commit marker:
    :func:`read_training_shard` refuses a manifest-less layout, so a
    crashed export is never silently served.
    """
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        write_json,
    )

    for c in ("shard", "seq", "offset", "size"):
        if c not in packed_docs.columns:
            raise ValueError(f"packed_docs missing column {c!r}")
    n_shards = packed_docs.select("shard").distinct().count()
    (
        packed_docs.repartition(max(n_shards, 1), F.col("shard"))
        .sortWithinPartitions("shard", "seq", "offset")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    stats = packing_stats(
        packed_docs.select("shard", "seq", "size"), budget
    ).collect()
    manifest = {
        "budget": budget,
        "n_shards": n_shards,
        "shards": {
            str(r["shard"]): {
                "n_docs": r["n_docs"],
                "n_seqs": r["n_seqs"],
                "total_tokens": r["total_tokens"],
                "fill_rate": r["fill_rate"],
            }
            for r in stats
        },
    }
    write_json(os.path.join(path, "_manifest.json"), manifest)


def read_training_shard(spark, path: str, shard: int) -> DataFrame:
    """One shard's documents in training order. The read prunes to the
    shard's partition directory; ordering inside the (single) file is
    the write-time (seq, offset) sort, re-asserted here cheaply —
    Spark sorts an already-sorted single file in one pass, and the
    explicit sort keeps the contract independent of reader splits."""
    import json
    import os

    mp = os.path.join(path, "_manifest.json")
    if not os.path.exists(mp):
        raise RuntimeError(
            f"training-shard layout at {path} has no _manifest.json — "
            "the export did not commit (crashed mid-write?); re-export"
        )
    with open(mp) as f:
        manifest = json.load(f)
    if str(shard) not in manifest["shards"]:
        raise ValueError(f"shard {shard} not in manifest")
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .sortWithinPartitions("seq", "offset")
    )


__all__ = [
    "next_fit",
    "pack_sequences",
    "packing_stats",
    "read_training_shard",
    "write_training_shards",
    "PACK_SCHEMA",
]
