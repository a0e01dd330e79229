"""Vector index lifecycle + keyed upsert (SURVEY.md §2a S4-S8).

Reference: ``PineconeService``
(``/root/reference/app/services/pinecone_service.py``):
- create_index(dimension, metric) idempotent          :33-68  (S5)
- index_exists / get_index_dimension                  :70-100 (S7)
- upsert_vectors — batches of 100, last-write-wins    :108-146 (S4)
- delete_index                                        :184-191 (S6)
- describe_index_stats                                :193-204 (A2)
- dimension-mismatch reroute to ``{name}-{dim}``      scripts/ingest_documents.py:176-195

Spark shape: an index is a **Parquet table directory** with a small
JSON sidecar for ``(dimension, metric, bucket_count)`` properties
(catalog-free so it works against any path; swap for
TBLPROPERTIES/Delta when a metastore is available). The data table is
hash-partitioned into ``bucket_count`` directories by
``pmod(xxhash64(id), bucket_count)``, so a
keyed upsert is **incremental**: only the buckets containing upserted
ids are re-merged and swapped; every other bucket's files are left
byte-identical on disk. Upsert = (touched existing ∪ new) →
window-dedup by id keeping the newest batch — the MERGE-emulation
pattern; with Delta this becomes ``MERGE INTO`` directly.

Scale notes: per micro-batch the work is O(|batch| + |touched
buckets|), not O(|index|). The incoming record pipeline is
localCheckpoint'ed once, so the dimension probe and the merge share a
single execution of the chunk→embed DAG. At 100 TB create indexes
with a larger ``bucket_count`` (e.g. 4096) so a bucket ≈ one
executor's working set; the bucket column is a pure function of
(id, bucket_count), so the same layout also serves bucket-pruned
point lookups.

``bucket_count`` is **persisted per index at create time** and read
back on every upsert/prune — raising the module default ``N_BUCKETS``
later only affects *newly created* indexes, so old rows are never
mis-addressed (pre-r3 the constant was used directly, and raising it
against an existing index silently broke LWW pruning).

Crash consistency: the per-bucket swap is rename-aside (live bucket →
``_old_bucket=N`` aside, new → live, then delete the aside), fenced
by a ``_swap_inprogress.json`` marker written before the first rename
and removed after the last; ``read``/``upsert`` fail loudly while the
marker is present so a torn swap is *detected*, and the
underscore-prefixed aside dirs (invisible to Spark's scanner)
preserve the pre-swap data for recovery.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    SWAP_MARKER,
    check_not_torn,
    rewrite_partitions,
    write_json,
)

PROPS_FILE = "_index_properties.json"
N_BUCKETS = 32  # default bucket_count for NEWLY CREATED indexes only
BUCKET_COL = "bucket"  # no leading underscore: Spark hides _-prefixed paths

LOGICAL_SCHEMA = (
    "id string, embedding array<float>, text string, source string, "
    "chunk_index int, _batch long"
)


def bucket_of(id_col: str = "id", n_buckets: int = N_BUCKETS):
    """Stable id → bucket assignment (pure function of (id, n_buckets),
    so point lookups and upserts prune to one partition directory).
    ``n_buckets`` MUST be the index's persisted ``bucket_count`` when
    addressing an existing index — never the module default."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


class VectorIndex:
    """A named vector index backed by a bucket-partitioned Parquet table."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.root = root
        self.name = name

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.name)

    @property
    def _props_path(self) -> str:
        return os.path.join(self.path, PROPS_FILE)

    @property
    def _data_path(self) -> str:
        return os.path.join(self.path, "data")

    # -- S5: create (idempotent, like pinecone_service.py:44-51) -----
    def create(
        self, dimension: int, metric: str = "cosine", bucket_count: int | None = None
    ) -> "VectorIndex":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
            METRICS,
        )

        if metric not in METRICS:
            raise ValueError(f"metric must be one of {METRICS}")
        if self.exists():
            return self
        if bucket_count is None:
            bucket_count = N_BUCKETS
        if bucket_count < 1:
            raise ValueError("bucket_count must be >= 1")
        os.makedirs(self.path, exist_ok=True)
        write_json(
            self._props_path,
            {
                "dimension": dimension,
                "metric": metric,
                "bucket_count": int(bucket_count),
            },
        )
        return self

    # -- S7: exists / describe ---------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self._props_path)

    def properties(self) -> dict:
        with open(self._props_path) as f:
            return json.load(f)

    def dimension(self) -> int:
        return int(self.properties()["dimension"])

    def metric(self) -> str:
        return str(self.properties().get("metric", "cosine"))

    def bucket_count(self) -> int:
        """Persisted layout width; N_BUCKETS only for pre-r3 sidecars
        written before bucket_count was persisted (those were always
        laid out with the then-constant 32)."""
        return int(self.properties().get("bucket_count", N_BUCKETS))

    @property
    def _swap_marker_path(self) -> str:
        return os.path.join(self.path, SWAP_MARKER)

    def _check_not_torn(self) -> None:
        check_not_torn(self._data_path, self._swap_marker_path)

    # -- S6: delete ---------------------------------------------------
    def delete(self) -> None:
        if os.path.exists(self.path):
            shutil.rmtree(self.path)

    # -- read ---------------------------------------------------------
    def read(self) -> DataFrame:
        """Logical view of the index (bucket column dropped)."""
        self._check_not_torn()
        if not os.path.exists(self._data_path):
            return self.spark.createDataFrame([], LOGICAL_SCHEMA)
        return self.spark.read.parquet(self._data_path).drop(BUCKET_COL)

    def _pruned_existing(self, touched: list[int]) -> DataFrame:
        """Existing rows of the touched buckets only — the isin filter
        on the partition column becomes a PartitionFilter, so Spark
        never lists or reads the untouched buckets' files."""
        return self.spark.read.parquet(self._data_path).filter(
            F.col(BUCKET_COL).isin(touched)
        )

    # -- S4: keyed upsert (last-write-wins by id) --------------------
    def upsert(self, records: DataFrame, batch: int, on_mismatch: str = "raise") -> int:
        """Upsert ``records`` (id, embedding, text, source,
        chunk_index). Same id overwrites — Pinecone upsert semantics
        (pinecone_service.py:108-146). ``batch`` is a caller-supplied
        monotonic version (idempotent re-runs pass the same value).

        The record pipeline (typically chunk→embed) is materialized
        ONCE via localCheckpoint; the dimension probe and bucket
        discovery share that single pass with the merge.

        ``on_mismatch``: ``"raise"`` enforces the dimension invariant
        the reference checks at ingest; ``"reroute"`` reproduces
        ``scripts/ingest_documents.py:176-195`` — records whose
        (uniform) dimension differs from this index are written to a
        sibling index ``{name}-{dim}`` (created on demand, same
        metric). Returns the target index's row count.
        """
        if on_mismatch not in ("raise", "reroute"):
            raise ValueError("on_mismatch must be 'raise' or 'reroute'")
        self._check_not_torn()
        dim = self.dimension()
        new = records.select(
            F.col("id").cast("string"),
            F.col("embedding").cast("array<float>"),
            "text",
            "source",
            F.col("chunk_index").cast("int"),
            F.lit(batch).cast("long").alias("_batch"),
        ).withColumn(BUCKET_COL, bucket_of("id", self.bucket_count()))
        # one execution of the upstream DAG; probe + merge reuse it
        new = new.localCheckpoint(eager=True)
        probe = new.agg(
            F.collect_set(F.size("embedding")).alias("dims"),
            F.collect_set(BUCKET_COL).alias("buckets"),
        ).first()
        dims, touched = sorted(probe["dims"]), sorted(probe["buckets"])
        if not touched:  # empty batch: nothing to merge or rewrite
            return self.read().count()
        if dims != [dim]:
            if len(dims) > 1:
                raise ValueError(
                    f"mixed embedding dimensions {dims} in one batch "
                    f"(index {self.name} expects {dim})"
                )
            if on_mismatch == "raise":
                raise ValueError(
                    f"dimension mismatch: index {self.name} expects {dim}, "
                    f"got {dims[0]} (pass on_mismatch='reroute' for the "
                    f"reference's '{self.name}-{dims[0]}' fallback)"
                )
            target = VectorIndex(self.spark, self.root, f"{self.name}-{dims[0]}")
            target.create(dimension=dims[0], metric=self.metric())
            # a pre-existing reroute target may itself be mid-swap:
            # detect BEFORE swapping partitions into it, not after
            target._check_not_torn()
            if target.bucket_count() != self.bucket_count():
                # re-address for the target's persisted layout (cheap:
                # ``new`` is already checkpointed)
                new = new.withColumn(
                    BUCKET_COL, bucket_of("id", target.bucket_count())
                )
                touched = sorted(
                    r["b"]
                    for r in new.select(F.col(BUCKET_COL).alias("b"))
                    .distinct()
                    .collect()
                )
            return target._write_merged(new, touched)
        return self._write_merged(new, touched)

    def _write_merged(self, new: DataFrame, touched: list[int]) -> int:
        """Merge ``new`` (already bucketed + checkpointed) into the
        touched buckets and atomically swap only those directories."""
        fresh = not os.path.exists(self._data_path)
        existing = (
            self.spark.createDataFrame([], new.schema)
            if fresh
            else self._pruned_existing(touched)
        )
        merged = merge_last_write_wins(existing, new)
        # the returned index size rides the write as an observed
        # metric when the write IS the whole index (fresh create —
        # every ingest-funnel and throughput path): no post-write
        # footer-count job. A merge into an existing layout still
        # re-counts, since untouched buckets don't flow through this
        # write. At-scale caveat (ADVICE r15): observed metrics count
        # per ATTEMPTED task — retries/speculation can over-count, so
        # this return value is a size indicator; exact-count callers
        # should read().count() (the merge path already does).
        obs = Observation()
        rewrite_partitions(
            merged.observe(obs, F.count(F.lit(1)).alias("n")),
            self._data_path,
            BUCKET_COL,
            touched,
            self._swap_marker_path,
        )
        if fresh:
            return int(obs.get["n"])
        return self.read().count()

    # -- takedown: per-id delete -------------------------------------
    def delete_ids(self, ids: DataFrame | list[str]) -> int:
        """Right-to-be-forgotten / takedown propagation: remove the
        given ids from the index, rewriting ONLY the buckets that
        contain them (untouched buckets stay byte-identical, a bucket
        emptied by the delete disappears from the layout).
        Deleting absent ids is a no-op. Returns the number of rows
        actually deleted (the takedown-audit number) — computed inside
        the pruned scan, so the whole operation never reads an
        untouched bucket. Composes with ``LexicalIndex.delete_docs``
        for cross-layout takedown of a document."""
        self._check_not_torn()
        if isinstance(ids, (list, tuple)):
            ids = self.spark.createDataFrame(
                [(str(i),) for i in ids], "id string"
            )
        idf = (
            ids.select(F.col("id").cast("string"))
            .distinct()
            .withColumn(BUCKET_COL, bucket_of("id", self.bucket_count()))
            .localCheckpoint(eager=True)
        )
        touched = sorted(
            r["b"]
            for r in idf.select(F.col(BUCKET_COL).alias("b")).distinct().collect()
        )
        if not touched or not os.path.exists(self._data_path):
            return 0
        existing = self._pruned_existing(touched).localCheckpoint(eager=True)
        n_doomed = existing.join(idf.select("id"), "id", "left_semi").count()
        if n_doomed == 0:
            return 0
        rewrite_partitions(
            existing.join(idf.select("id"), "id", "left_anti"),
            self._data_path,
            BUCKET_COL,
            touched,
            self._swap_marker_path,
        )
        return n_doomed

    # -- A2: stats ----------------------------------------------------
    def stats(self) -> DataFrame:
        return self.read().agg(
            F.count("*").alias("total_vector_count"),
            F.lit(self.dimension()).alias("dimension"),
            F.lit(0.0).alias("index_fullness"),
        )


def merge_last_write_wins(
    existing: DataFrame, new: DataFrame, id_col: str = "id", version_col: str = "_batch"
) -> DataFrame:
    """MERGE-by-key emulation: union → keep newest version per id.

    The survivor order is TOTAL: newest version first, then an md5
    over the payload columns, so two *different* rows sharing an id
    within one batch resolve to the same survivor on every run (and
    idempotent re-ingestion of identical rows is a true no-op)."""
    allr = existing.unionByName(new, allowMissingColumns=True)
    payload = sorted(c for c in allr.columns if c not in (id_col, version_col))
    tb = F.md5(F.to_json(F.struct(*payload)))
    w = Window.partitionBy(id_col).orderBy(F.col(version_col).desc(), tb.asc())
    return (
        allr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def best_index_argmax(spark: SparkSession, root: str, candidates: list[str]) -> str | None:
    """A3: probe candidate indexes, pick the one with the most vectors
    (app/api/routes.py:78-116); None if all empty/missing.

    All existing candidates are counted in ONE Spark job (union of
    footer-metadata scans), not a driver-side loop of per-index jobs;
    ties resolve to the earliest candidate, matching the reference's
    first-wins scan order."""
    existing = [
        name
        for name in candidates
        if VectorIndex(spark, root, name).exists()
    ]
    if not existing:
        return None
    from functools import reduce

    counted = reduce(
        lambda a, b: a.unionByName(b),
        [
            VectorIndex(spark, root, name)
            .read()
            .select(F.lit(name).alias("__name"))
            for name in existing
        ],
    )
    counts = {
        r["__name"]: r["n"]
        for r in counted.groupBy("__name").agg(F.count("*").alias("n")).collect()
    }
    best_name, best_count = None, 0
    for name in existing:  # candidate order = reference scan order
        if counts.get(name, 0) > best_count:
            best_name, best_count = name, counts[name]
    return best_name
