"""Persistent MinHash-LSH index: query parity with the in-line
incremental operator, append lifecycle, and Bloom-pruning equivalence."""

import pytest
from pyspark.sql import functions as F

from topic_store_spark.operators.index import MinHashIndex


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from tests.conftest import table

    return table(spark, sf_dir, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def batch(corpus):
    return corpus.limit(40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq ww")).alias("text"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_query_matches_inline_incremental(spark, corpus, batch, tmp_path):
    from topic_store_spark.operators.dedup import minhash_lsh_pairs_incremental

    idx = MinHashIndex.build(corpus, str(tmp_path / "idx"))
    got = idx.query(batch)
    want = minhash_lsh_pairs_incremental(batch, corpus)
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_bloom_pruning_identical(spark, corpus, batch, tmp_path):
    idx = MinHashIndex.build(corpus, str(tmp_path / "idx2"))
    assert _rows(idx.query(batch)) == _rows(
        idx.query(batch, bloom_prefilter=False)
    )


def test_batch_docs_hint_identical(spark, corpus, batch, tmp_path):
    """r13 optimization: a caller-supplied ``batch_docs`` hint sizes the
    Bloom from batch_docs * bands instead of running a count() job; the
    filter size only moves the false-positive rate, so the verified
    pair set must be identical with the hint, without it, and with a
    deliberately WRONG (too-small -> overfull filter) hint."""
    idx = MinHashIndex.build(corpus, str(tmp_path / "idx_hint"))
    n = batch.count()
    want = _rows(idx.query(batch, bloom_prefilter=True))
    assert _rows(idx.query(batch, batch_docs=n, bloom_prefilter=True)) == want
    assert _rows(idx.query(batch, batch_docs=1, bloom_prefilter=True)) == want


def test_partitioned_layout_identical_and_release(spark, corpus, batch, tmp_path):
    """The hash-partitioned layout (bands by band hash, shingles by doc
    hash — directory pruning for micro-batch queries) must return the
    IDENTICAL pair set as the flat layout, through append too; release()
    drops every batch-side cache the query pinned."""
    flat = MinHashIndex.build(corpus, str(tmp_path / "idx_f"))
    part = MinHashIndex.build(corpus, str(tmp_path / "idx_p"), partitions=8)
    assert _rows(part.query(batch)) == _rows(flat.query(batch))
    extra = corpus.limit(5).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    flat.append(extra)
    part.append(extra)
    probe = extra.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" yy")).alias("text"),
    )
    assert _rows(part.query(probe)) == _rows(flat.query(probe))
    assert len(part._query_caches) > 0
    part.release()
    flat.release()
    assert part._query_caches == [] and flat._query_caches == []


def test_append_then_query_sees_appended_docs(spark, corpus, tmp_path):
    idx = MinHashIndex.build(corpus, str(tmp_path / "idx3"))
    first_batch = corpus.limit(10).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    idx.append(first_batch)
    # second batch: near-dups of the FIRST batch (already only in the
    # index, not in the original corpus relation)
    second = first_batch.select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    out = idx.query(second)
    pair_lo = {r["a_doc"] for r in out.collect()}
    # every second-batch doc should collide with its first-batch source
    assert any(200000 <= p < 300000 for p in pair_lo)
    assert out.count() >= 10


def test_meta_json_guards_format_mismatch(spark, corpus, batch, tmp_path):
    """build() persists the format-determining parameters; reopening
    with mismatched key_shingles/partitions/signature params fails
    LOUDLY instead of silently dropping every pair (the unionByName
    bigint->string coercion hazard); MinHashIndex.load() reopens with
    the built format; a pre-meta directory still opens as-constructed;
    rebuild at the same path replaces the format."""
    import json
    import os

    path = str(tmp_path / "idx_m")
    idx = MinHashIndex.build(corpus, path, partitions=4)
    meta = json.load(open(os.path.join(path, "meta.json")))
    assert meta["partitions"] == 4 and meta["key_shingles"] is True

    for bad in (
        dict(key_shingles=False),   # shingles/ column type mismatch
        dict(partitions=0),         # directory layout mismatch
        dict(num_perm=16),          # signature arithmetic mismatch
    ):
        with pytest.raises(ValueError, match="different.*format"):
            MinHashIndex(path, **bad)

    reopened = MinHashIndex.load(path)
    assert reopened.partitions == 4 and reopened.key_shingles is True
    assert _rows(reopened.query(batch)) == _rows(idx.query(batch))
    reopened.release(), idx.release()

    # legacy directory (no meta.json): trusted as-constructed
    os.remove(os.path.join(path, "meta.json"))
    MinHashIndex(path, key_shingles=False)

    # rebuild with a new format replaces the persisted one
    MinHashIndex.build(corpus.limit(20), path, key_shingles=False)
    assert json.load(open(os.path.join(path, "meta.json")))[
        "key_shingles"
    ] is False


def test_near_dedup_ingest_stream(spark, corpus, tmp_path):
    """Streaming near-dup ingest end-to-end: batch 1 seeds novel docs,
    batch 2 replays near-dup clones of batch 1 plus one novel doc —
    only the novel doc survives, and both store and index grew."""
    import json

    import topic_store_spark as ts
    from topic_store_spark.operators.index import MinHashIndex
    from topic_store_spark.streaming.ingest import near_dedup_ingest_stream

    base = [r["text"] for r in corpus.limit(3).collect()]
    idx = MinHashIndex.build(corpus, str(tmp_path / "nidx"))
    store = ts.load(str(tmp_path / "nstore.parquet"), spark)

    src = tmp_path / "nsrc"
    src.mkdir()
    seen = []

    def run(files, ckpt):
        for name, rows in files.items():
            (src / name).write_text(
                "\n".join(json.dumps(r) for r in rows)
            )
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        q = (
            near_dedup_ingest_stream(
                stream, store, idx,
                on_batch=lambda b, n_in, n_kept: seen.append((n_in, n_kept)),
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: 2 novel docs + 1 near-dup of the standing corpus
    run(
        {
            "b1.json": [
                {"doc_id": 500001,
                 "text": " ".join(f"alpha{i}" for i in range(120))},
                {"doc_id": 500002,
                 "text": " ".join(f"beta{i}" for i in range(120))},
                {"doc_id": 500003, "text": base[0] + " qq"},
            ]
        },
        "ck1",
    )
    stored = sorted(r["doc_id"] for r in store.to_df().collect())
    assert stored == [500001, 500002]
    # batch 2: clones of batch-1 survivors + 1 novel
    run(
        {
            "b2.json": [
                {"doc_id": 600001,
                 "text": " ".join(f"alpha{i}" for i in range(120)) + " x"},
                {"doc_id": 600002,
                 "text": " ".join(f"gamma{i}" for i in range(120))},
            ]
        },
        "ck1",  # SAME checkpoint: only the new file forms batch 2
    )
    stored = sorted(r["doc_id"] for r in store.to_df().collect())
    assert stored == [500001, 500002, 600002]
    assert seen == [(3, 2), (2, 1)]
