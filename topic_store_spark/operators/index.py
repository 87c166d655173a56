"""Persistent MinHash-LSH index: build once, append per batch, query
forever.

`dedup.minhash_lsh_pairs_incremental` derives the corpus's banded
signatures in-line from the corpus DataFrame — correct, but in a
standing ingest pipeline that recomputes shingles + signatures for the
ENTIRE corpus on every batch.  This module materializes the two
relations that work actually needs as parquet (the "index"):

- ``bands/``    — ``(doc, band)``: the LSH bucket relation the candidate
  join keys on;
- ``shingles/`` — ``(doc, shs)``: each doc's distinct shingle array,
  the exact-Jaccard verification side.  By default stored as 60-bit
  integer KEYS (`hashing.shingle_key60`, ~3x less IO and integer
  intersections; identical pair output absent negligible md5-prefix
  collisions); ``key_shingles=False`` stores the gram strings for
  strict bit-parity with the in-line operator.

Lifecycle: ``MinHashIndex.build(df, path)`` writes both from a corpus
scan; ``.append(new_df)`` computes signatures for the BATCH ONLY and
appends (corpus cost per batch: zero — this is what makes incremental
ingest O(batch), the claim the in-line operator's docstring makes
hypothetically); ``.query(batch_df)`` returns verified near-dup pairs of
batch-vs-(index + batch) with the same semantics/thresholds as
``minhash_lsh_pairs_incremental`` — the batch's band set prunes the
index scan via the Bloom filter of `operators/bloom.py` before the
candidate join, so an index of any size feeds the shuffle only its
plausible collisions.

At 100 TB the bands relation would additionally be written bucketed on
``band`` (operators/bucketing.py) so repeated queries merge-join
exchange-free; path-based parquet keeps this module catalog-independent
and the Bloom pruning already removes the dominant cost.  All
signature arithmetic is shared with `operators/dedup.py` — one
implementation, verified by the same oracle family.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class MinHashIndex:
    """Handle to a persisted LSH index directory (see module doc)."""

    def __init__(
        self,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        num_perm: int = 12,
        bands: int = 4,
        partitions: int = 0,
        key_shingles: bool = True,
    ) -> None:
        self.path = path
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.num_perm = num_perm
        self.bands = bands
        #: >0 enables HASH-PARTITIONED layout: bands/ partitioned by
        #: ``_bp = xxhash64(band) mod partitions`` and shingles/ by
        #: ``_dp = xxhash64(doc) mod partitions``, so a query scans only
        #: the directories the batch's band set / candidate doc set
        #: touches (parquet partition pruning — the directory-level
        #: sibling of the Bloom row filter).  0 (the DEFAULT, and the
        #: measured-faster configuration at every locally reachable
        #: scale — STREAMBENCH.md) keeps the flat layout.  Gate on
        #: per-directory DATA size, not corpus size alone: partition
        #: only when index_bytes/partitions reaches O(100 MB)+ of data
        #: pages, so the bytes pruning skips dominate per-directory
        #: footer/listing overhead.  Partition count must also be >>
        #: the per-batch band-key count (batch_docs x bands), or every
        #: query touches nearly every directory and pruning is
        #: structurally dead (r11 measurement: at partitions=64 a
        #: 64-doc x 4-band batch touched 63/64 band dirs and lost to
        #: flat 5.0-5.4 vs 6.3-7.6 rows/s despite a 4.3x byte cut;
        #: r10's partitions=512 pruned 9.9x by bytes and still lost
        #: wall-clock to footers at local directory sizes).
        self.partitions = partitions
        #: store shingles as 60-bit integer KEYS (hashing.shingle_key60)
        #: instead of gram strings: ~3x less verify-side IO and integer
        #: array intersections instead of string ones.  Results are
        #: identical absent 60-bit collisions (~3e-4 expected at 1e9
        #: distinct shingles), and the key is a pure md5 derivation any
        #: engine reproduces.  Set False for gram-string storage.
        self.key_shingles = key_shingles
        self._query_caches: list[DataFrame] = []
        self._last_keyed: DataFrame | None = None
        self._last_banded: DataFrame | None = None
        #: one entry per query() when partitions>0: how many of the
        #: layout's directories the batch actually touched (the pruning
        #: evidence tools/stream_bench.py records) — bounded, one small
        #: dict per query.
        self.prune_log: list[dict] = []
        self._doc_count: int | None = None
        self._check_meta()

    # -- internals ---------------------------------------------------------
    #: format-determining parameters persisted in meta.json.  n/num_perm/
    #: bands fix the signature arithmetic, key_shingles fixes the
    #: shingles/ column TYPE (bigint keys vs gram strings — mixing them
    #: makes unionByName coerce to string and every batch-vs-corpus
    #: intersection silently empty), partitions fixes the directory
    #: layout (mixing flat and partitioned rows breaks pruning).
    _META_FIELDS = ("n", "num_perm", "bands", "partitions", "key_shingles")

    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _write_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(self._meta_path(), "w") as fh:
            json.dump(
                {
                    "format": "minhash-lsh-index/1",
                    **{f: getattr(self, f) for f in self._META_FIELDS},
                },
                fh,
            )

    def _check_meta(self) -> None:
        """Fail LOUDLY when this handle's parameters disagree with the
        on-disk index format — otherwise a key_shingles or partitions
        mismatch doesn't error, it silently drops every near-dup pair
        (r6 advice).  An index directory without meta.json (pre-meta
        build, or a remote path the driver can't stat) is trusted
        as-constructed, same as before."""
        p = self._meta_path()
        try:
            if not os.path.exists(p):
                return
            with open(p) as fh:
                meta = json.load(fh)
        except OSError:
            return
        bad = {
            f: {"index": meta.get(f), "requested": getattr(self, f)}
            for f in self._META_FIELDS
            if f in meta and meta[f] != getattr(self, f)
        }
        if bad:
            raise ValueError(
                f"MinHashIndex at {self.path!r} was built with a different "
                f"format: {bad}; open it with MinHashIndex.load(path) or "
                "matching parameters, or rebuild"
            )

    def _bands_path(self) -> str:
        return os.path.join(self.path, "bands")

    def _shingles_path(self) -> str:
        return os.path.join(self.path, "shingles")

    def _derive(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(shingles, bands) relations for ``df`` — the same pipeline
        `dedup.minhash_lsh_pairs` runs in-line.  ``key_shingles``
        replaces the verification-side gram strings with their 60-bit
        keys (array stays distinct: the key is injective modulo
        negligible md5-prefix collisions)."""
        from topic_store_spark.functions.hashing import shingle_key60
        from topic_store_spark.operators.dedup import (
            _minhash_banded,
            _shingle_arrays,
        )

        sh = _shingle_arrays(df, self.text_col, self.id_col, self.n)
        banded = _minhash_banded(sh, self.num_perm, self.bands)
        if self.key_shingles:
            sh = sh.select(
                "doc",
                F.transform(F.col("shs"), lambda s: shingle_key60(s)).alias(
                    "shs"
                ),
            )
        return sh, banded

    def _bp(self, col) -> F.Column:
        return F.pmod(F.xxhash64(col), F.lit(self.partitions))

    def _write(
        self, df: DataFrame, path: str, part_col: str, key, mode: str
    ) -> None:
        if self.partitions:
            df = df.withColumn(part_col, self._bp(key))
            # one file per (touched) directory: without this every write
            # task drops a fragment into every directory it holds rows
            # for (tasks x partitions tiny files), and after a few dozen
            # appends the listing overhead eats what pruning saves — the
            # r7 small-batch bench measured flat-layout appends growing
            # 259s -> 323s run-over-run from exactly this.  Build pays
            # one corpus-sized shuffle; appends are batch-sized by
            # contract, so a single write task (no shuffle — the r7
            # repartition-per-append variant measured ~3.5s/batch SLOWER
            # from the two extra exchanges) emits one file per touched
            # directory.
            if mode == "overwrite":
                df = df.repartition(F.col(part_col))
            else:
                df = df.coalesce(1)
            df.write.mode(mode).partitionBy(part_col).parquet(path)
        elif mode == "append":
            # appends are batch-sized by contract (the module's whole
            # design is O(batch) per micro-batch): one file per append,
            # not one per shuffle partition
            df.coalesce(1).write.mode(mode).parquet(path)
        else:
            df.write.mode(mode).parquet(path)

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def build(cls, df: DataFrame, path: str, **kw) -> "MinHashIndex":
        meta_p = os.path.join(path, "meta.json")
        if os.path.exists(meta_p):
            os.remove(meta_p)  # overwrite build: the OLD format is moot
        idx = cls(path, **kw)
        keyed, banded = idx._derive(df)
        idx._write(keyed, idx._shingles_path(), "_dp", F.col("doc"), "overwrite")
        idx._write(banded, idx._bands_path(), "_bp", F.col("band"), "overwrite")
        idx._write_meta()
        return idx

    @classmethod
    def load(
        cls, path: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> "MinHashIndex":
        """Open an existing index with the format parameters it was
        BUILT with (read from meta.json) — the mistake-proof opener."""
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        kw = {f: meta[f] for f in cls._META_FIELDS if f in meta}
        return cls(path, text_col=text_col, id_col=id_col, **kw)

    def append(self, new_df: DataFrame) -> None:
        """Index the BATCH only and append — never touches corpus rows."""
        keyed, banded = self._derive(new_df)
        self._write(keyed, self._shingles_path(), "_dp", F.col("doc"), "append")
        self._write(banded, self._bands_path(), "_bp", F.col("band"), "append")
        self._doc_count = None

    def doc_count(self) -> int:
        """Number of indexed documents — parquet FOOTER count of the
        shingles relation (metadata-only, no data read), cached on the
        handle; appends keep it current incrementally when they know
        their size, else invalidate."""
        if self._doc_count is None:
            spark = SparkSession.getActiveSession()
            self._doc_count = (
                spark.read.parquet(self._shingles_path()).count()
            )
        return self._doc_count

    def append_cached(self, ids: DataFrame, n_docs: int | None = None) -> None:
        """Append the subset of the LAST ``query``'s batch whose doc id
        is in ``ids`` (single column), REUSING the cached signatures that
        query derived — the ingest sink's shape, where survivors are a
        subset of the just-queried batch and re-signing them would double
        the per-batch CPU.  Requires a prior ``query`` in this session
        whose caches have not been ``release``d."""
        if self._last_keyed is None:
            raise ValueError("append_cached: no cached query() signatures")
        keyed, banded = self._last_keyed, self._last_banded
        sel = ids.select(F.col(ids.columns[0]).alias("doc"))
        self._write(
            keyed.join(sel, "doc", "left_semi"),
            self._shingles_path(), "_dp", F.col("doc"), "append",
        )
        self._write(
            banded.join(sel, "doc", "left_semi"),
            self._bands_path(), "_bp", F.col("band"), "append",
        )
        if n_docs is not None and self._doc_count is not None:
            self._doc_count += n_docs
        else:
            self._doc_count = None

    # -- query -------------------------------------------------------------
    def query(
        self,
        batch_df: DataFrame,
        threshold_num: int = 8,
        threshold_den: int = 10,
        bloom_prefilter: bool | str = "auto",
        batch_docs: int | None = None,
    ) -> DataFrame:
        """Verified near-dup pairs (jaccard >= num/den) where at least
        one side is in ``batch_df``: (batch x index) and (batch x batch).
        Returns ``(a_doc, b_doc, common, union_sz, jaccard)`` — the
        exact output shape and values of the in-line
        ``minhash_lsh_pairs_incremental``."""
        from pyspark import StorageLevel

        spark: SparkSession = batch_df.sparkSession
        if bloom_prefilter == "auto":
            # the Bloom prefilter pays when batch << corpus (it removes
            # most index rows before the candidate join); at
            # corpus-scale batches its build job + per-row evaluation
            # are pure cost (measured ~1.5s of a 4.2s query at
            # batch == corpus, identical output).  Callers that know
            # the batch size pass it (the ingest sink does); without
            # the hint the small-batch-safe default stays on.
            bloom_prefilter = (
                batch_docs is None or batch_docs * 16 <= self.doc_count()
            )
        keyed_new, banded_new = self._derive(batch_df)
        keyed_new = keyed_new.persist(StorageLevel.MEMORY_AND_DISK)
        banded_new = banded_new.persist(StorageLevel.MEMORY_AND_DISK)
        self._query_caches += [keyed_new, banded_new]
        self._last_keyed, self._last_banded = keyed_new, banded_new

        banded_idx = spark.read.parquet(self._bands_path())
        prune: dict | None = None
        if self.partitions:
            # directory-level pruning: the index scan lists only the
            # partitions the BATCH's band set hashes into (one tiny
            # driver job over the cached batch bands)
            parts = [
                r["_bp"]
                for r in banded_new.select(
                    self._bp(F.col("band")).alias("_bp")
                ).distinct().collect()
            ]
            banded_idx = banded_idx.filter(F.col("_bp").isin(parts)).drop("_bp")
            prune = {"partitions": self.partitions, "band_parts": len(parts),
                     "band_part_ids": sorted(parts)}
        if bloom_prefilter:
            from topic_store_spark.operators.bloom import (
                bloom_build,
                bloom_contains,
            )

            # size from the caller's batch hint when it has one: each
            # doc contributes exactly ``self.bands`` band keys, so
            # batch_docs * bands upper-bounds the distinct keys and the
            # count() sizing job is skipped — one less eager job per
            # micro-batch (guide §1.2: don't run two jobs where one
            # suffices).  An over-sized filter only LOWERS the false-
            # positive rate; candidates only ever shrink toward the
            # same exact-verified output either way.
            bf = bloom_build(
                banded_new,
                "band",
                expected_items=(
                    batch_docs * self.bands if batch_docs else None
                ),
            )
            banded_idx = banded_idx.filter(bloom_contains(bf, F.col("band")))
        banded_all = banded_idx.unionByName(banded_new)

        cands = (
            banded_new.alias("x")
            .join(banded_all.alias("y"), "band")
            .filter(F.col("x.doc") != F.col("y.doc"))
            .select(
                F.least("x.doc", "y.doc").alias("a_doc"),
                F.greatest("x.doc", "y.doc").alias("b_doc"),
            )
            .distinct()
        )
        from topic_store_spark.operators.dedup import (
            _jaccard_out,
            _sized,
            _verify_candidates,
        )

        sh_idx = spark.read.parquet(self._shingles_path())
        if self.partitions:
            # the verification side prunes the same way: only the
            # directories holding a CANDIDATE doc's shingles are read
            cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
            self._query_caches.append(cands)
            dparts = {
                r["_dp"]
                for side in ("a_doc", "b_doc")
                for r in cands.select(
                    self._bp(F.col(side)).alias("_dp")
                ).distinct().collect()
            }
            sh_idx = sh_idx.filter(
                F.col("_dp").isin(sorted(dparts))
            ).drop("_dp")
            prune["shingle_parts"] = len(dparts)
            prune["shingle_part_ids"] = sorted(dparts)
            self.prune_log.append(prune)
        sh_all = sh_idx.unionByName(keyed_new)
        return _jaccard_out(
            _verify_candidates(_sized(sh_all), cands), threshold_num, threshold_den
        )

    def release(self) -> None:
        """Unpersist the batch-side relations ``query`` cached.  Call
        once the query's consumers are materialized (the streaming
        ingest sink does, per batch) — without it a standing pipeline
        accumulates one cached batch per micro-batch."""
        self._last_keyed = self._last_banded = None
        while self._query_caches:
            self._query_caches.pop().unpersist()
