"""Chunker unit tests: invariants + golden cases for the
RecursiveCharacterTextSplitter(500, 50) reimplementation
(reference params app/core/config.py:36-38)."""

import hashlib

import pytest

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
    chunk_documents,
    split_text,
)


def test_short_text_single_chunk():
    assert split_text("hello world") == ["hello world"]


def test_empty_text():
    assert split_text("") == []
    assert split_text("   \n\n  ") == []


def test_paragraph_split_preferred():
    a = "A" * 300
    b = "B" * 300
    out = split_text(f"{a}\n\n{b}")
    assert out == [a, b]  # split at \n\n, both fit alone, stripped


def test_chunk_size_respected():
    text = " ".join(f"word{i}" for i in range(1000))
    out = split_text(text)
    assert all(len(c) <= 500 for c in out)
    assert len(out) > 1


def test_overlap_carries_tail():
    # words of 9 chars + space → pieces of 10; chunks ≈ 500 chars;
    # successive chunks share a suffix/prefix within the 50-char budget
    words = [f"w{i:07d}" for i in range(200)]
    out = split_text(" ".join(words))
    assert len(out) > 2
    for prev, nxt in zip(out, out[1:]):
        tail = prev[-40:]
        assert tail.split()[-1] in nxt[:60]


def test_indivisible_atom_char_split():
    # with the default "" fallback separator, an oversized atom is
    # char-split and re-merged to ≤ chunk_size pieces
    atom = "X" * 600
    out = split_text(f"intro\n\n{atom}")
    assert all(len(c) <= 500 for c in out)
    assert "".join(out).count("X") >= 600  # overlap may duplicate chars


def test_indivisible_atom_kept_without_fallback():
    # when no finer separator remains, the oversized piece is kept
    # as-is (LangChain keeps it and logs a warning)
    atom = "X" * 600
    out = split_text(f"intro\n\n{atom}", separators=["\n\n"])
    # keep_separator glues the "\n\n" onto the oversized piece
    assert any(c.endswith(atom) and len(c) >= 600 for c in out)


def test_long_word_char_fallback():
    # an oversized token with spaces around it still splits at ""
    atom = "Y" * 1200
    out = split_text(atom, separators=["\n\n", "\n", " ", ""])
    # "" separator splits to chars and merges back to ≤500 with overlap
    assert all(len(c) <= 500 for c in out)
    assert "".join(c[50:] if i else c for i, c in enumerate(out)).startswith("Y" * 500)


def test_deterministic():
    text = ("para one. " * 30 + "\n\n" + "para two! " * 40 + "\n" + "tail ") * 3
    assert split_text(text) == split_text(text)


def test_chunk_documents_dataframe(spark):
    docs = spark.createDataFrame(
        [
            (1, "short doc", "s1"),
            (2, ("alpha " * 120 + "\n\n") * 3, "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = chunk_documents(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["text"] for r in by_doc[1]] == ["short doc"]
    assert len(by_doc[2]) > 1
    for r in out:
        # chunk id scheme: doc_{index}_{md5[:8]} (ingest_documents.py:93-105)
        exp = f"doc_{r['local_index']}_{hashlib.md5(r['text'].encode()).hexdigest()[:8]}"
        assert r["chunk_id"] == exp
        assert r["n_chunks"] == len(by_doc[r["doc_id"]])
        assert sorted(x["local_index"] for x in by_doc[r["doc_id"]]) == list(
            range(r["n_chunks"])
        )


def test_chunk_documents_global_index(spark):
    docs = spark.createDataFrame(
        [(1, "one two", "s"), (2, "three four", "s")],
        "doc_id long, text string, source string",
    )
    out = chunk_documents(docs, with_global_index=True).orderBy("global_index").collect()
    assert [r["global_index"] for r in out] == [0, 1]
    assert out[0]["doc_id"] == 1


def test_reference_sample_docs_chunk_cleanly():
    """The reference's own sample corpus (3 financial docs) chunks to
    the expected order of magnitude (README.md:156-160: ~10² chunks
    at 500/50) with every chunk within size."""
    import pathlib

    total = n_docs = 0
    for p in pathlib.Path("/root/reference/data/sample_docs").glob("*.txt"):
        n_docs += 1
        chunks = split_text(p.read_text())
        total += len(chunks)
        assert all(len(c) <= 500 for c in chunks)
        # coverage: concatenated chunks contain the doc's words in order
        joined = "".join(chunks)
        for w in p.read_text().split()[:50]:
            assert w in joined
    if n_docs == 0:
        pytest.skip("the reference checkout's data/sample_docs corpus is absent")
    assert 30 <= total <= 200


def test_token_chunks_windows_and_overlap(spark):
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
        token_chunks,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    out = sorted(
        token_chunks(docs, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: r.chunk_index,
    )
    # stride 3: starts 0,3,6,9 -> windows of 4,4,4,1 tokens
    assert [r.n_tokens for r in out] == [4, 4, 4, 1]
    assert out[0].chunk_text == "w0 w1 w2 w3"
    assert out[1].chunk_text == "w3 w4 w5 w6"  # 1-token overlap carried
    assert out[3].chunk_text == "w9"
    # every chunk within budget by construction
    assert all(r.n_tokens <= 4 for r in out)


def test_token_chunks_edge_cases(spark):
    import pytest

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.chunker import (
        token_chunks,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo")], "doc_id long, text string"
    )
    out = token_chunks(docs, chunk_tokens=4, overlap=0).collect()
    # token-free docs yield nothing; short doc yields one short chunk
    assert [(r.doc_id, r.chunk_text) for r in out] == [(3, "solo")]
    with pytest.raises(ValueError, match="overlap"):
        token_chunks(docs, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError, match="chunk_tokens"):
        token_chunks(docs, chunk_tokens=0)


def test_chunk_documents_global_index_scales(spark):
    """The parity id scheme without the corpus-wide single-partition
    window: range partition + per-partition parallel row_number +
    driver-side cumulative offsets (bounded by |partitions|, not
    data). Enumeration equals the global (doc_id, local_index) rank,
    ids keep the reference doc_{i}_{md5} scheme, and the plan carries
    NO Exchange SinglePartition."""
    import hashlib

    from pyspark.sql import functions as F

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.plans.inspect import (
        physical_plan,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.concat(F.lit("w"), F.col("id")), 400)
        ).alias("text"),
        F.lit("s").alias("source"),
    ).repartition(7)
    df = chunk_documents(docs, with_global_index=True)
    rows = df.collect()
    assert len(rows) > 400  # multi-chunk docs
    seq = sorted(rows, key=lambda r: (r["doc_id"], r["local_index"]))
    assert [r["global_index"] for r in seq] == list(range(len(rows)))
    for r in rows:
        exp = (
            f"doc_{r['global_index']}_"
            f"{hashlib.md5(r['text'].encode()).hexdigest()[:8]}"
        )
        assert r["chunk_id"] == exp
    assert "Exchange SinglePartition" not in physical_plan(df)
