"""Persistent inverted-index lexical layout — the lexical twin of the
vector index (``sources.index_table``) and the IVF/IVFPQ layouts.

Why it exists: ``operators.hybrid`` builds ``doc_terms`` / ``idf`` /
``doc_term_freqs`` from raw text on every call, which is the right
shape for a one-off batch but re-tokenizes the corpus per query batch.
The reference's retrieval layer is a *persistent* index
(``app/services/pinecone_service.py:33-68,108-146`` — create once,
upsert incrementally, probe many times); this module gives the lexical
signal the same lifecycle the vector side already has.

Layout (catalog-free parquet + JSON sidecar, same discipline as
``VectorIndex``)::

    <path>/
      _lexical_properties.json      # {term_buckets, doc_buckets}
      postings/ tbucket=N/          # (term, id, tf, dl)
      termdf/   tbucket=N/          # (term, df)        — df sidecar
      docs/     dbucket=N/          # (id, dl, terms)   — the doc store

- **postings** are partitioned by ``tbucket = pmod(xxhash64(term),
  term_buckets)``: ALL postings of a term live in exactly one
  partition directory, so a probe prunes the scan to the (few) buckets
  its query terms hash to, and ``df(term)`` is computable exactly from
  the pruned scan alone.
  ``dl`` (doc token length) is denormalized into each posting, Lucene
  norms-style, so BM25 needs no join against the doc store at probe
  time.
- **termdf** (round 11) is the per-term document-frequency sidecar:
  NOT an independently-maintained counter (those drift) but a pure
  per-bucket AGGREGATE of postings, regenerated for exactly the term
  buckets a mutation rewrites — it cannot diverge from a bucket it
  was derived from. Its job is the df-cap decision BEFORE the
  postings scan: without it, a stopword-grade query term's postings
  (the largest in the index) are scanned once just to be df-capped
  away; with it, the probe reads (term, df) rows for the query terms
  — bytes proportional to the query, not to the stopword's posting
  list — and scans only surviving terms. Since round 16 the sidecar
  also supplies the probe's df VALUES outright when it fully covers
  the probed buckets (the fast path in ``_pruned_candidates``), so
  both staleness directions ride the crash contract the blocked
  direction always had: the window between a postings swap and its
  sidecar refresh is the postings/docs pair's existing
  re-run-the-idempotent-mutation contract (the at-least-once streams
  do). Layouts that fail the coverage check (legacy, partially
  adopted) take the round-11 path, where the scan recomputes exact df
  and re-applies the cap — there an allowed-direction staleness still
  self-corrects.
- **docs** is the stored-fields side: (id, dl, terms) partitioned by
  id hash. Its job is incremental maintenance — replacing a document
  must delete the OLD version's postings, whose term buckets can only
  be known from the old term list. It also supplies the corpus stats
  (N via parquet footer counts, avgdl via a single slim column scan).

Upsert = Lucene's delete-then-insert, expressed relationally: probe
the doc store (id-bucket-pruned) for old term lists of incoming ids,
touched term-buckets = buckets(old terms ∪ new terms), rewrite ONLY
those postings partitions (drop rows of incoming ids, union the new
postings) and only the touched doc-store partitions (last-write-wins
merge), each under the crash-consistent marker-fenced swap of
``sources.layout``. Work per batch is O(|batch| + |touched buckets|),
not O(|index|). Re-running the same batch is a no-op by construction
(delete-then-insert is idempotent; the LWW merge is deterministic), so
an at-least-once ingest stream gets exactly-once end state —
``streaming.lexical_ingest`` rides exactly this.

At 100 TB: probes shuffle only postings of the query's terms (bounded
by Σ df, further bounded by ``df_cap`` which drops stopword-grade
terms BEFORE the candidate aggregation); the full corpus text is never
re-read. ``term_buckets`` should scale with corpus size (4096+) so one
bucket ≈ an executor working set.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.hybrid import (
    DF_CAP_DEFAULT,
    IDF_DEC,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    check_not_torn,
    rewrite_partitions,
    write_json,
)

PROPS_FILE = "_lexical_properties.json"
#: bucket-count clamps for the CORPUS-SCALED default (``create(...,
#: term_buckets=None)``): one term bucket per ~256 docs, one doc
#: bucket per ~512, so a fixture-scale build isn't 96 near-empty
#: writer tasks and a billion-doc corpus still lands at the cap where
#: one bucket ≈ an executor working set. Explicit counts always win —
#: the count is persisted in the sidecar either way, so probes and
#: upserts never depend on the default.
TERM_BUCKETS_MIN, TERM_BUCKETS_MAX = 16, 4096
DOC_BUCKETS_MIN, DOC_BUCKETS_MAX = 8, 1024
TBUCKET = "tbucket"
DBUCKET = "dbucket"
# driver-collect bound for the probe's touched-bucket discovery: one
# row per DISTINCT (query, term) PAIR (round 16 — the pairs, not just
# the terms, are collected so the probe's scoring side can be a
# broadcast local relation instead of a re-derived Spark subtree), so
# a runaway means a malformed query batch, and it fails loudly before
# collecting.
MAX_PROBE_TERMS = 65536

#: corpus size below which the probe SKIPS the termdf pre-scan hint.
#: Round-12 re-design (SCALE.md): as a Spark job the hint carried
#: ~1.4 s of fixed scheduling/scan cost and measured a 0.69× SLOWDOWN
#: at 500k docs — below any realistic crossover. The lookup is now a
#: DRIVER-SIDE pyarrow read of the (hive-partitioned) sidecar —
#: partition-pruned to the query terms' buckets, term-filtered, a few
#: milliseconds at any corpus size, bounded by MAX_PROBE_TERMS like
#: the terms collect it rides next to — so the gate is 0: always on
#: when the sidecar exists and a df_cap applies. Kept as a module
#: knob so scale checks can force the hint off to measure its value.
TERMDF_HINT_MIN_DOCS = 0

POSTINGS_SCHEMA = "term string, id long, tf long, dl long"
TERMDF_SCHEMA = "term string, df long"
DOCS_SCHEMA = "id long, dl long, terms array<string>, _batch long"


def _tbucket_of(term_col: str, n: int) -> Column:
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(n)).cast("int")


def _dbucket_of(id_col: str, n: int) -> Column:
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n)).cast("int")


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) one row per TOKEN — same analyzer as
    ``operators.hybrid`` (lowercase whitespace split, empties
    dropped), so index probes reproduce the raw-path scores exactly."""
    return docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")


def _doc_side(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc postings from raw text: (id, term, tf, dl)."""
    tok = _tokens(docs, id_col, text_col)
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "id")


def _doc_rows(docs: DataFrame, side: DataFrame, id_col: str) -> DataFrame:
    """Doc-store rows (id, dl, terms) for EVERY input doc — token-free
    docs get dl=0 / terms=[] so they still count toward N (the raw
    operators' ``docs.agg(count(*))``) while staying out of avgdl."""
    per_doc = side.groupBy("id").agg(
        F.first("dl").alias("dl"),
        F.sort_array(F.collect_set("term")).alias("terms"),
    )
    return (
        docs.select(F.col(id_col).cast("long").alias("id")).distinct()
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
            F.coalesce("terms", F.array().cast("array<string>")).alias("terms"),
        )
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a localCheckpoint's executor blocks once
    every consumer is done (ADVICE r15: they otherwise linger until
    GC, accruing storage in long-lived sessions that build many
    indexes). The checkpointed Dataset's plan is a LogicalRDD over the
    persisted RDD; unpersisting that RDD frees the blocks. MUST only
    be called when the frame will never be read again — the truncated
    lineage cannot recompute it."""
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass  # internal accessor moved — GC will release instead


class LexicalIndex:
    """A persistent inverted index over (doc id, text) rows."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- lifecycle ----------------------------------------------------
    @property
    def _props_path(self) -> str:
        return os.path.join(self.path, PROPS_FILE)

    @property
    def _postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @property
    def _termdf_path(self) -> str:
        return os.path.join(self.path, "termdf")

    @property
    def _docs_path(self) -> str:
        return os.path.join(self.path, "docs")

    def exists(self) -> bool:
        return os.path.exists(self._props_path)

    def properties(self) -> dict:
        with open(self._props_path) as f:
            return json.load(f)

    def term_buckets(self) -> int:
        return int(self.properties()["term_buckets"])

    def doc_buckets(self) -> int:
        return int(self.properties()["doc_buckets"])

    def _check_not_torn(self) -> None:
        for p in (self._postings_path, self._termdf_path, self._docs_path):
            if os.path.exists(p):
                check_not_torn(p)

    # -- create -------------------------------------------------------
    def create(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        term_buckets: int | None = None,
        doc_buckets: int | None = None,
    ) -> "LexicalIndex":
        """Build the layout from scratch (idempotent: existing index is
        left untouched — use :meth:`upsert` to change it).

        ``term_buckets`` / ``doc_buckets`` default to corpus-scaled
        counts (one cheap ``docs.count()`` — parquet footers for a raw
        table scan): ~256 docs per term bucket and ~512 per doc
        bucket, clamped to [16, 4096] / [8, 1024]. Pass
        explicit counts to pin a layout shape (tests do; a 100 TB
        deployment sizing buckets to its executor working set
        should)."""
        if self.exists():
            return self
        if term_buckets is None or doc_buckets is None:
            n_docs = docs.count()
            if term_buckets is None:
                term_buckets = max(
                    TERM_BUCKETS_MIN, min(TERM_BUCKETS_MAX, -(-n_docs // 256))
                )
            if doc_buckets is None:
                doc_buckets = max(
                    DOC_BUCKETS_MIN, min(DOC_BUCKETS_MAX, -(-n_docs // 512))
                )
        if term_buckets < 1 or doc_buckets < 1:
            raise ValueError("bucket counts must be >= 1")
        os.makedirs(self.path, exist_ok=True)
        # consumed by all three writes below — materialize the
        # tokenize → tf → dl pipeline (two shuffles over every token)
        # eagerly ONCE, then run the three layout writes from
        # concurrent driver threads (guide §2.6: independent jobs
        # back-fill each other's stragglers; the writes share no
        # pipeline work after the materialization, so they only compete
        # for task slots). The round-14 form persisted lazily and wrote
        # sequentially — three job tails paid one after another.
        # Eager localCheckpoint (persist+count A/B-measured ~0.8 s
        # slower at sf0.1 — the columnar cache build costs more than
        # RDD block storage); the blocks are explicitly released in
        # the finally below (ADVICE r15 — they previously lingered
        # until GC). Executor-loss stance for the truncated lineage:
        # SCALE.md round 16 (re-run the build; create() is idempotent).
        side = _doc_side(docs, id_col, text_col).localCheckpoint(eager=True)
        try:
            postings = side.select(
                "term", "id", "tf", "dl",
                _tbucket_of("term", term_buckets).alias(TBUCKET),
            )
            dstore = (
                _doc_rows(docs, side, id_col)
                .withColumn("_batch", F.lit(0).cast("long"))
                .withColumn(DBUCKET, _dbucket_of("id", doc_buckets))
            )

            def _write_postings() -> None:
                (
                    postings.repartition(term_buckets, F.col(TBUCKET))
                    .write.mode("overwrite").partitionBy(TBUCKET)
                    .parquet(self._postings_path)
                )

            def _write_termdf() -> None:
                # df sidecar: a per-bucket aggregate of the postings
                # just written (side has one row per (id, term), so
                # count == df)
                (
                    side.groupBy("term")
                    .agg(F.count("*").alias("df"))
                    .withColumn(TBUCKET, _tbucket_of("term", term_buckets))
                    .repartition(term_buckets, F.col(TBUCKET))
                    .write.mode("overwrite").partitionBy(TBUCKET)
                    .parquet(self._termdf_path)
                )

            def _write_docs() -> None:
                (
                    dstore.repartition(doc_buckets, F.col(DBUCKET))
                    .write.mode("overwrite").partitionBy(DBUCKET)
                    .parquet(self._docs_path)
                )

            def _write_docs_then_stats():
                # the (n, avgdl) sidecar scan chains directly behind
                # the doc-store write ON ITS THREAD, so it overlaps
                # the (token-level, slowest) postings write instead of
                # running as one more serial job tail after all three
                # writes (round 16, guide §2.6). Same scan over the
                # same written files refresh_stats() would run —
                # values identical by construction (pinned by
                # test_lexical_create_stats_match_rescan).
                _write_docs()
                return (
                    # _read_or_empty, not a bare parquet read: an
                    # empty corpus writes only _SUCCESS (the
                    # create-then-stream lifecycle), which cannot
                    # infer a schema
                    self._read_or_empty(
                        self._docs_path, f"{DOCS_SCHEMA}, {DBUCKET} int"
                    )
                    .agg(
                        F.count("*").alias("n"),
                        F.avg(
                            F.when(F.col("dl") > 0, F.col("dl"))
                        ).alias("avgdl"),
                    )
                    .first()
                )

            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                stats_f = pool.submit(_write_docs_then_stats)
                futures = [
                    pool.submit(w) for w in (_write_postings, _write_termdf)
                ]
                for f in futures:
                    f.result()
                row = stats_f.result()
        finally:
            _release_local_checkpoint(side)
        write_json(
            self._props_path,
            {
                "term_buckets": term_buckets,
                "doc_buckets": doc_buckets,
                "n": int(row["n"]),
                "avgdl": None if row["avgdl"] is None else float(row["avgdl"]),
            },
        )
        return self

    # -- reads --------------------------------------------------------
    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Read a partitioned table dir, tolerating the empty layout a
        create-then-stream lifecycle starts from (no partition dirs
        yet — Spark can't infer a schema from only _SUCCESS)."""
        has_parts = os.path.exists(path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(path)
        )
        if not has_parts:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(path)

    def postings(self) -> DataFrame:
        self._check_not_torn()
        return self._read_or_empty(
            self._postings_path, f"{POSTINGS_SCHEMA}, {TBUCKET} int"
        )

    def termdf(self) -> DataFrame:
        self._check_not_torn()
        return self._read_or_empty(
            self._termdf_path, f"{TERMDF_SCHEMA}, {TBUCKET} int"
        )

    def _refresh_termdf(self, tbuckets: list[int]) -> None:
        """Regenerate the df sidecar for the given term buckets from
        the (just-swapped) live postings — a pure aggregate of what is
        on disk, so it cannot drift from the buckets it derives from.
        Called by every mutation right after its postings swap; the
        crash window between the two swaps is the SAME contract as the
        postings/docs pair (re-run the idempotent mutation), and a
        stale-allowed sidecar self-corrects at probe time anyway
        (``_pruned_candidates`` re-applies the exact cap on
        scan-computed df)."""
        if not tbuckets:
            return
        fresh = (
            self.postings()
            .filter(F.col(TBUCKET).isin(tbuckets))
            .groupBy(TBUCKET, "term")
            .agg(F.count("*").alias("df"))
            .select("term", "df", TBUCKET)
        )
        # a legacy layout built before the sidecar existed adopts it
        # incrementally (missing buckets are treated as
        # unblocked-by-hint at probe time, which is always safe)
        rewrite_partitions(fresh, self._termdf_path, TBUCKET, tbuckets)

    def doc_store(self) -> DataFrame:
        self._check_not_torn()
        return self._read_or_empty(
            self._docs_path, f"{DOCS_SCHEMA}, {DBUCKET} int"
        )

    def corpus_stats(self) -> DataFrame:
        """1-row (n, avgdl), from the sidecar when present: every
        mutation (:meth:`create` / :meth:`upsert` / :meth:`delete_docs`)
        recomputes the pair from the merged layout and persists it in
        ``_lexical_properties.json``, so a probe pays a local-relation
        lookup instead of a per-search doc-store scan job (VERDICT r9
        item #2 — this was ``hybrid_rrf_topk_indexed``'s avoidable
        job). Recompute-at-mutation rather than increment-in-place
        keeps the counter self-healing: a crash between a partition
        swap and the sidecar write leaves stats one batch stale, and
        the next mutation overwrites them with exact values.

        Layouts written before the sidecar carried stats fall back to
        the original scan: N from parquet footer row counts, avgdl
        over one slim column. Token-free docs count toward N but not
        avgdl, matching the raw operators (``doc_term_freqs`` never
        emits a dl=0 row)."""
        props = self.properties()
        if "n" in props:
            avgdl = props.get("avgdl")
            return self.spark.createDataFrame(
                [(int(props["n"]), None if avgdl is None else float(avgdl))],
                "n long, avgdl double",
            )
        return self._scan_stats()

    def _scan_stats(self) -> DataFrame:
        return self.doc_store().agg(
            F.count("*").alias("n"),
            F.avg(F.when(F.col("dl") > 0, F.col("dl"))).alias("avgdl"),
        )

    def refresh_stats(self) -> None:
        """Recompute (n, avgdl) from the persisted doc store and write
        them into the sidecar (atomically). Spark's ``avg`` of
        a long is the double sum/count quotient, so the cached value is
        bit-identical to what the fallback scan would return."""
        row = self._scan_stats().first()
        props = self.properties()
        props["n"] = int(row["n"])
        props["avgdl"] = None if row["avgdl"] is None else float(row["avgdl"])
        write_json(self._props_path, props)

    # -- incremental upsert ------------------------------------------
    def upsert(
        self,
        docs: DataFrame,
        batch: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        """Delete-then-insert by doc id: incoming docs replace any
        existing version (their OLD postings vanish, even for terms the
        new text no longer contains). ``batch`` is a caller-supplied
        monotonic version for the doc-store LWW merge; replaying a
        batch with the same value converges to the same layout."""
        self._check_not_torn()
        tb, db = self.term_buckets(), self.doc_buckets()

        side = _doc_side(docs, id_col, text_col).localCheckpoint(eager=True)
        new_docs = _doc_rows(docs, side, id_col).localCheckpoint(eager=True)

        # old term lists of replaced ids — pruned to the id buckets the
        # batch touches (PartitionFilters; untouched doc partitions are
        # never listed)
        dbuckets = sorted(
            r["b"]
            for r in new_docs.select(_dbucket_of("id", db).alias("b"))
            .distinct().collect()
        )
        if not dbuckets:  # empty batch
            return
        old_in_buckets = self.doc_store().filter(F.col(DBUCKET).isin(dbuckets))
        replaced = old_in_buckets.join(
            new_docs.select("id"), "id", "left_semi"
        )

        # touched term buckets: old terms ∪ new terms
        touched_terms = (
            replaced.select(F.explode("terms").alias("term"))
            .unionByName(side.select("term"))
            .select(_tbucket_of("term", tb).alias("b"))
            .distinct()
        )
        tbuckets = sorted(r["b"] for r in touched_terms.collect())

        # postings: rewrite touched term-buckets = (existing minus
        # incoming ids) ∪ new postings
        kept = (
            self.postings()
            .filter(F.col(TBUCKET).isin(tbuckets))
            .join(new_docs.select("id"), "id", "left_anti")
        )
        new_postings = side.select(
            "term", "id", "tf", "dl", _tbucket_of("term", tb).alias(TBUCKET)
        )
        rewrite_partitions(
            kept.select(new_postings.columns).unionByName(new_postings),
            self._postings_path,
            TBUCKET,
            tbuckets,
        )
        self._refresh_termdf(tbuckets)

        # doc store: LWW merge within the touched id buckets
        incoming = new_docs.withColumn(
            "_batch", F.lit(batch).cast("long")
        ).withColumn(DBUCKET, _dbucket_of("id", db))
        rewrite_partitions(
            _lww_docs(old_in_buckets, incoming),
            self._docs_path,
            DBUCKET,
            dbuckets,
        )
        self.refresh_stats()

    # -- takedown: per-doc delete ------------------------------------
    def delete_docs(self, ids: DataFrame | list[int]) -> None:
        """Right-to-be-forgotten / takedown propagation: remove the
        given doc ids from BOTH halves of the layout — their postings
        (rewriting only the term buckets their stored term lists
        touch) and their doc-store rows (rewriting only their id
        buckets). Mirrors :meth:`upsert`'s delete-then-insert with an
        empty insert; deleting absent ids is a no-op. N and avgdl
        shrink accordingly (the doc no longer counts toward corpus
        statistics). Composes with ``VectorIndex.delete_ids``.

        Like :meth:`upsert`, the two halves swap under separate
        fences; a crash between them leaves postings deleted but doc
        rows present — re-running the same delete converges (the
        whole operation is idempotent)."""
        self._check_not_torn()
        tb, db = self.term_buckets(), self.doc_buckets()
        if isinstance(ids, (list, tuple)):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], "id long"
            )
        idf = (
            ids.select(F.col("id").cast("long"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        dbuckets = sorted(
            r["b"]
            for r in idf.select(_dbucket_of("id", db).alias("b"))
            .distinct().collect()
        )
        if not dbuckets:
            return
        old_in_buckets = self.doc_store().filter(F.col(DBUCKET).isin(dbuckets))
        doomed = old_in_buckets.join(idf, "id", "left_semi")
        tbuckets = sorted(
            r["b"]
            for r in doomed.select(F.explode("terms").alias("term"))
            .select(_tbucket_of("term", tb).alias("b"))
            .distinct().collect()
        )

        if tbuckets:
            rewrite_partitions(
                self.postings()
                .filter(F.col(TBUCKET).isin(tbuckets))
                .join(idf, "id", "left_anti"),
                self._postings_path,
                TBUCKET,
                tbuckets,
            )
            self._refresh_termdf(tbuckets)

        rewrite_partitions(
            old_in_buckets.join(idf, "id", "left_anti"),
            self._docs_path,
            DBUCKET,
            dbuckets,
        )
        self.refresh_stats()

    # -- probes -------------------------------------------------------
    def _blocked_terms(
        self,
        terms: list[str],
        buckets: list[int],
        df_cap: float | int,
        n_hint: int | None,
    ) -> set[str]:
        """Query terms the ``termdf`` sidecar marks over-cap — read
        DRIVER-SIDE with pyarrow (hive partition pruning on
        ``tbucket`` + a term filter), not as a Spark job: the lookup
        is bounded by MAX_PROBE_TERMS rows exactly like the
        terms-collect it rides next to, and as a job it carried ~1.4 s
        of fixed cost that measured as a net probe SLOWDOWN at 500k
        docs (SCALE.md round 12). Over-approximate-safe as before:
        terms missing from the sidecar stay in the scan and the exact
        scan-computed df re-applies the cap downstream."""
        import pyarrow.dataset as pads

        if df_cap <= 1:
            n_corpus = (
                n_hint
                if n_hint is not None
                else int(self.corpus_stats().first()["n"])
            )
            cap_val = n_corpus * float(df_cap)
        else:
            cap_val = float(df_cap)
        dset = pads.dataset(
            self._termdf_path, format="parquet", partitioning="hive"
        )
        tbl = dset.to_table(
            columns=["term", "df"],
            filter=(
                pads.field(TBUCKET).isin(buckets)
                & pads.field("term").isin(terms)
                & (pads.field("df") > cap_val)
            ),
        )
        return set(tbl["term"].to_pylist())

    def _sidecar_df_for(
        self, buckets: list[int], terms: list[str]
    ) -> dict | None:
        """Exact ``term → df`` for the probe's terms, read DRIVER-SIDE
        from the termdf sidecar (hive-pruned to ``buckets``), or None
        when the sidecar cannot be trusted to fully cover the probe:
        no sidecar dir, no cached corpus stats, or a postings bucket
        whose sidecar twin is missing (legacy / partially-adopted
        layouts — those keep the round-11 scan-computed-df path). A
        bucket dir absent from BOTH postings and termdf simply holds
        no data, which is covered trivially (df 0 ⇒ no postings)."""
        props = self.properties()
        if "n" not in props or not os.path.exists(self._termdf_path):
            return None
        have = {
            e
            for e in os.listdir(self._termdf_path)
            if e.startswith(f"{TBUCKET}=")
        }
        post = set()
        if os.path.exists(self._postings_path):
            post = {
                e
                for e in os.listdir(self._postings_path)
                if e.startswith(f"{TBUCKET}=")
            }
        needed = {f"{TBUCKET}={b}" for b in buckets}
        if not (needed & post):
            return {}  # no probed bucket holds postings — nothing to scan
        if (needed & post) - have:
            return None
        import pyarrow.dataset as pads

        dset = pads.dataset(
            self._termdf_path, format="parquet", partitioning="hive"
        )
        tbl = dset.to_table(
            columns=["term", "df"],
            filter=(
                pads.field(TBUCKET).isin(buckets)
                & pads.field("term").isin(terms)
            ),
        )
        return dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))

    def _pruned_candidates(
        self, qterms: DataFrame, df_cap: float | int | None
    ) -> DataFrame:
        """Postings of the query's UNCAPPED terms, scanning ONLY the
        term buckets the query terms hash to. Returns (query_id, term,
        id, tf, dl, df, n, avgdl).

        df is exact — a term's postings are colocated in its bucket, so
        counting ids inside the pruned scan IS the global document
        frequency. The df-cap is applied to the per-term aggregate
        BEFORE any row-level postings join (a partial-agg scan, never a
        fan-out), so a stopword-grade hot term costs one map-side count
        and is then dropped — the postings join only ever sees the
        broadcast list of surviving (query term × stats) rows.

        The ``termdf`` sidecar is consulted FIRST (round 11): terms it
        marks over-cap are dropped before the postings scan, so a
        stopword's posting list — the largest row-proportional read the
        cap would discard — is never touched. The hint is
        over-approximate by construction: terms missing from the
        sidecar (legacy layouts, partially-adopted buckets) stay in
        the scan, and the scan-computed exact df re-applies the cap,
        so a stale-allowed hint costs a wasted read, never a wrong
        result.

        Round 16 (VERDICT r15 #3): when the sidecar FULLY COVERS the
        probed buckets (every bucket dir the query terms hash to that
        exists under postings/ also exists under termdf/, and the
        corpus stats live in the properties sidecar), the whole small
        side of the probe resolves DRIVER-SIDE: df per term comes from
        the same pyarrow sidecar read the blocked-terms hint already
        pays, the cap is applied to those exact values, and the
        scoring join's small side becomes ONE broadcast local relation
        (query_id, term, df, n, avgdl). That removes the per-probe
        Spark-side df aggregate (an exchange + AQE stage) and the
        re-derived query-terms subtree from the probe plan — the scan
        side keeps its bucket pruning and term filter unchanged. The
        sidecar is exact by construction after any completed mutation
        (it is regenerated per touched bucket from the live postings);
        the crash window between a postings swap and its sidecar
        refresh is the layout's existing re-run-the-mutation contract.
        Layouts that fail the coverage check (legacy, partially
        adopted) take the round-11 path: scan-computed df, cap
        re-applied — exact either way."""
        tb = self.term_buckets()
        pairs = (
            qterms.select("query_id", "term")
            .limit(MAX_PROBE_TERMS + 1)
            .select("query_id", "term", _tbucket_of("term", tb).alias("b"))
            .collect()
        )
        if len(pairs) > MAX_PROBE_TERMS:
            raise ValueError(
                f"probe has > {MAX_PROBE_TERMS} distinct (query, term) "
                "pairs; the touched-bucket list is collected to the driver "
                "by design (bounded user queries). Split the query batch."
            )
        empty = self.spark.createDataFrame(
            [],
            "query_id long, term string, id long, tf long, dl long, "
            "df long, n long, avgdl double",
        )
        if not pairs:
            return empty
        rows = [
            {"term": t, "b": b}
            for t, b in sorted({(r["term"], r["b"]) for r in pairs})
        ]

        fast = self._sidecar_df_for(
            sorted({r["b"] for r in rows}), [r["term"] for r in rows]
        )
        if fast is not None:
            props = self.properties()
            n_corpus = int(props["n"])
            avgdl = props.get("avgdl")
            avgdl = None if avgdl is None else float(avgdl)
            if df_cap is None:
                cap_val = None
            elif df_cap <= 1:
                cap_val = n_corpus * float(df_cap)
            else:
                cap_val = float(df_cap)
            keep = {
                t
                for t, d in fast.items()
                if cap_val is None or d <= cap_val
            }
            local = [
                (r["query_id"], r["term"], fast[r["term"]], n_corpus, avgdl)
                for r in pairs
                if r["term"] in keep
            ]
            if not local:
                return empty
            q_allowed = self.spark.createDataFrame(
                local,
                "query_id long, term string, df long, n long, avgdl double",
            )
            buckets = sorted(
                {r["b"] for r in rows if r["term"] in keep}
            )
            qset = sorted(keep)
            pruned = self.postings().filter(
                F.col(TBUCKET).isin(buckets) & F.col("term").isin(qset)
            )
            return pruned.join(F.broadcast(q_allowed), "term").select(
                "query_id", "term", "id", "tf", "dl", "df", "n", "avgdl"
            )

        use_hint = (
            df_cap is not None
            and df_cap > 0
            and os.path.exists(self._termdf_path)
        )
        if use_hint:
            props = self.properties()
            n_hint = int(props["n"]) if "n" in props else None
            use_hint = n_hint is None or n_hint >= TERMDF_HINT_MIN_DOCS
        if use_hint:
            blocked = self._blocked_terms(
                [r["term"] for r in rows],
                sorted({r["b"] for r in rows}),
                df_cap,
                n_hint,
            )
            if blocked:
                rows = [r for r in rows if r["term"] not in blocked]
        buckets = sorted({r["b"] for r in rows})
        if not buckets:
            return empty
        qset = [r["term"] for r in rows]
        pruned = self.postings().filter(
            F.col(TBUCKET).isin(buckets) & F.col("term").isin(qset)
        )
        dfc = pruned.groupBy("term").agg(F.countDistinct("id").alias("df"))
        allowed = (
            dfc.crossJoin(F.broadcast(self.corpus_stats()))
            .filter(_cap_pred(df_cap))
        )
        q_allowed = qterms.join(allowed, "term")
        return pruned.join(F.broadcast(q_allowed), "term").select(
            "query_id", "term", "id", "tf", "dl", "df", "n", "avgdl"
        )

    def lexical_topk(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id_col: str = "query_id",
        query_text_col: str = "text",
        df_cap: float | int | None = DF_CAP_DEFAULT,
    ) -> DataFrame:
        """(query_id, doc_id, lex_score, lex_rank) — identical scores
        to ``operators.hybrid.lexical_topk`` (same analyzer, same
        smoothed idf rounded to 6 dp in DECIMAL), but from the
        persisted layout: no corpus re-tokenization, scan pruned to the
        query terms' buckets."""
        qterms = (
            _tokens(
                queries.select(
                    F.col(query_id_col).alias("qid"), F.col(query_text_col)
                ),
                "qid",
                query_text_col,
            )
            .distinct()
            .withColumnRenamed("id", "query_id")
        )
        cand = self._pruned_candidates(qterms, df_cap)
        scored = (
            cand.select(
                "query_id",
                F.col("id").alias("doc_id"),
                F.round(
                    F.ln((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
                ).cast(IDF_DEC).alias("idf"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("idf").alias("lex_score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("lex_score").desc(), F.col("doc_id").asc()
        )
        return (
            scored.withColumn("lex_rank", F.row_number().over(w))
            .filter(F.col("lex_rank") <= k)
        )

    def bm25_topk(
        self,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        query_id_col: str = "query_id",
        query_text_col: str = "text",
        df_cap: float | int | None = DF_CAP_DEFAULT,
    ) -> DataFrame:
        """(query_id, doc_id, bm25_score, bm25_rank) — identical to
        ``operators.hybrid.bm25_topk`` from the persisted layout:
        tf and dl ride the postings, avgdl/N come from the doc store,
        per-contribution 6-dp DECIMAL rounding keeps engines exact."""
        qterms = (
            _tokens(
                queries.select(
                    F.col(query_id_col).alias("qid"), F.col(query_text_col)
                ),
                "qid",
                query_text_col,
            )
            .distinct()
            .withColumnRenamed("id", "query_id")
        )
        cand = self._pruned_candidates(qterms, df_cap)
        contrib = (
            cand.select(
                "query_id",
                F.col("id").alias("doc_id"),
                F.round(
                    F.ln(
                        1.0
                        + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    )
                    * (F.col("tf") * (k1 + 1.0))
                    / (
                        F.col("tf")
                        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                    ),
                    6,
                ).cast(IDF_DEC).alias("c"),
            )
            .groupBy("query_id", "doc_id")
            .agg(F.sum("c").alias("bm25_score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("bm25_score").desc(), F.col("doc_id").asc()
        )
        return (
            contrib.withColumn("bm25_rank", F.row_number().over(w))
            .filter(F.col("bm25_rank") <= k)
        )


def _cap_pred(df_cap: float | int | None) -> Column:
    """df-cap predicate over (df, n) columns — same semantics as
    ``operators.hybrid._df_cap_filter`` (<=1 ratio, >1 absolute,
    None = uncapped)."""
    if df_cap is None:
        return F.lit(True)
    if df_cap <= 0:
        raise ValueError(f"df_cap must be positive or None, got {df_cap}")
    cap = F.col("n") * float(df_cap) if df_cap <= 1 else F.lit(float(df_cap))
    return F.col("df") <= cap


def _lww_docs(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Keep the newest doc-store row per id (ties: deterministic md5
    over the payload — the ``merge_last_write_wins`` convention)."""
    allr = existing.unionByName(incoming)
    tb = F.md5(F.to_json(F.struct("dl", "terms")))
    w = Window.partitionBy("id").orderBy(F.col("_batch").desc(), tb.asc())
    return (
        allr.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
