"""topic_store_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of RaymondCM/topic_store.

The reference (``/root/reference/src/topic_store/``) is a document-oriented
batch + streaming ETL engine with a Mongo-query-language frontend.  This
package re-expresses that surface Spark-first:

- documents  -> DataFrame rows (nested StructType)        (reference data.py)
- sanitation -> ingest encoder (codec.py)                 (reference sanitation.py)
- Mongo query dicts -> Catalyst Column expressions        (reference database.py find/aggregate)
- stores     -> Parquet-backed Storage + load() dispatch  (reference api.py/filesystem.py/database.py)
- convert    -> distributed read->transform->write ETL    (reference convert.py)
- scenario   -> Structured Streaming ingestion            (reference scenario.py/store.py/load_balancer.py)

Beyond the reference surface it adds the large-scale training-data
pipeline: deduplication (exact / n-gram Jaccard with PPJoin prefix
filtering / containment / MinHash-LSH batch+incremental+persistent-index
+streaming / SimHash / embedding-cosine / SemDeDup / substring spans /
paragraph / connected-components clustering / image pHash), similarity
search (brute-force, hyperplane LSH, IVF, IVF-PQ, persistent indexes,
distributed k-means), quality signals (heuristics, hashed-linear
classifier, unigram+bigram LM perplexity, DSIR, compression ratio,
repetition, contamination, BM25), sampling (mixture, temperature,
stratified splits), layout (sequence packing, RAG chunking, Z-order,
bucketing), scale infrastructure (Bloom prefilters, count-min-sketch
heavy hitters, salting), web ingestion (WARC, HTML->text), multimodal
codecs (PNG/WAV/JPEG/MJPEG-AVI from scratch; audio STFT+log-mel), and
an end-to-end corpus build (operators/build.py).

The four exported names load on first access (PEP 562): the package
root imports no pyspark, so ``python -m topic_store_spark.worker_daemon``
can clean the worker's ``sys.path`` before pyspark is first imported.
"""

import importlib

__version__ = "0.1.0"

__all__ = ["TopicStore", "Storage", "load", "get_spark", "__version__"]

_EXPORTS = {
    "TopicStore": "topic_store_spark.data",
    "Storage": "topic_store_spark.api",
    "load": "topic_store_spark.api",
    "get_spark": "topic_store_spark.session",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value


def __dir__():
    return sorted(set(globals()) | set(__all__))
