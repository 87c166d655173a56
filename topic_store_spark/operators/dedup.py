"""Deduplication operators for large-scale training-data pipelines.

Five strategies over a ``documents``-shaped table (id + text) or an
``embeddings``-shaped table (id + vector):

- ``exact_duplicates``        hash-groupBy on a normalized fingerprint
- ``ngram_jaccard_pairs``     exact n-gram Jaccard: AllPairs/PPJoin prefix
  candidates -> exact verify (``containment_pairs``,
  ``word_overlap_pairs`` and ``char_jaccard_pairs`` share the plan)
- ``minhash_lsh_pairs``       MinHash signatures -> LSH bands -> verify
- ``simhash_pairs``           SimHash bands -> Hamming verify
- ``embedding_dup_pairs``     quantized-cosine near-dup pairs (brute
  force; ``embedding_dup_pairs_lsh`` and ``semantic_cluster_dedup``
  bound the candidates by hyperplane bucket or centroid cluster, and
  all three verify with one exact check, ``_cosine_pairs``)

Scale design: every strategy is a shuffle-on-key plan with no driver
loops.  Three deliberate physical-plan choices (measured ~100x on the
bench corpus, and the difference between "works" and "doesn't" at 100 TB):

1. Expensive per-row expressions (regex tokenization, md5 arrays) are
   **staged through their own projections** so each evaluates once.
   Higher-order-function lambdas are interpreted with no subexpression
   elimination — inlining ``tokens(text)`` into a ``transform`` lambda
   re-runs the regex split per array element, O(len^2) per row.
2. Inputs are **repartitioned up to the cluster's parallelism** before
   CPU-bound signature computation (a handful of small input files must
   not serialize hashing onto a handful of cores).
3. Prefix and LSH candidate pairs are verified by one step,
   ``_verify_candidates``: join the candidate list to per-doc shingle
   *arrays* and intersect (``array_intersect``) — never a full shingle
   self-join filtered after, which would cost more than the
   brute-force path it replaces.

Jaccard/minhash self-joins key on shingle/band — the classic hot-key
hazard is a shingle shared by half the corpus, so the exact path takes a
``max_shingle_freq`` cap that drops degenerate keys before the join
(standard LSH practice; the cap is on *join fan-out*, not on recall of
confirmed pairs above the threshold for non-degenerate shingles).
Thresholds compare cross-multiplied integers (``common * den >= num *
union``) — exact, no FP boundary flakiness, and identical in the SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from topic_store_spark.functions.hashing import (
    md5_fingerprint,
    simhash_long_band_keys,
    simhash_long_from_hashes,
    token_md5s,
)
from topic_store_spark.functions.text import (
    char_shingles_from_norm,
    normalize_text,
    shingles_from_tokens,
    tokens,
)
from topic_store_spark.functions.vectors import int_self_dot_sql
from topic_store_spark.operators.similarity import (
    _cen_rank,
    _cosine_q,
    _int_dot,
    _q,
    _quantized,
    _with_affinity,
    argmax_best_sql,
    lsh_bucket_key_sql,
)
from topic_store_spark.operators.util import (
    MAX_BUILD_ROWS,
    BoundedCollectOverflow,
    bounded_collect,
    cache_scope as pair_cache_scope,
    ensure_parallelism,
    explode_nonempty,
    expose_cached_partitioning,
    hash_partition,
    persist_tracked as _persist_tracked,
    project_once,
    release_tracked_caches as release_pair_caches,
)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per duplicated fingerprint with the
    deterministic keeper (min id), group size, and member ids."""
    return (
        df.select(
            md5_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("_doc"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("_doc").alias("keep_id"),
            F.array_sort(F.collect_list("_doc")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def deduplicate_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Materialized exact dedup: the corpus with duplicates REMOVED —
    the lowest-id document survives per normalized-text fingerprint.
    This is the application step (``exact_duplicates`` is the report).

    One shuffle on the fingerprint; ``min_by`` keeps map-side partials
    (no window sort), then a semi-join-free select of the surviving rows
    would need the full row — so the keeper id comes from the aggregate
    and the original rows re-attach by id (broadcast-able when the
    keeper set is small; AQE decides otherwise)."""
    keep = (
        df.select(
            md5_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("_doc"),
        )
        .groupBy("fingerprint")
        .agg(F.min("_doc").alias("keep_id"))
    )
    return df.join(
        keep.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc, shs): distinct word-n-gram shingle array per doc.  Tokens and
    shingles each materialize in their own projection (perf contract of
    shingles_from_tokens)."""
    tk = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_tk")
    )
    return tk.select(
        "doc", F.array_distinct(shingles_from_tokens(F.col("_tk"), n)).alias("shs")
    )


def _jaccard_out(pairs: DataFrame, threshold_num: int, threshold_den: int) -> DataFrame:
    """Verified ``(a_doc, b_doc, common, a_sz, b_sz)`` pairs at or above
    the Jaccard threshold, with ``union_sz`` and the ratio."""
    pairs = pairs.withColumn(
        "union_sz", F.col("a_sz") + F.col("b_sz") - F.col("common")
    )
    return pairs.filter(
        F.col("common") * threshold_den >= threshold_num * F.col("union_sz")
    ).select(
        "a_doc",
        "b_doc",
        "common",
        "union_sz",
        (F.col("common") / F.col("union_sz")).alias("jaccard"),
    )


# tracked persists (shared machinery in operators/util.py, aliased at
# the top of this module — the same scope/release contract covers
# corpus.py's LM caches): `release_pair_caches()` drains every unscoped
# tracked intermediate (the overlap plans' flat shingle keys and
# ordered arrays, MinHash shingle/band relations, SimHash signature
# groups) once the pair output is materialized; `pair_cache_scope`
# scopes one computation's pins so concurrent computations can't
# release each other's caches.  NOTE: `spark.catalog.clearCache()`
# does NOT drain the tracked list — use the scope/release API.


def _ordered_docs(sh: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """Persisted (doc, ss, sz): each doc's cap-filtered shingle keys as
    ONE array under the global (df asc, key asc) order — the relation
    every prefix scheme slices and every verification intersects.
    Tracked for :func:`release_pair_caches`, as is the flat
    ``(doc, shingle)`` relation it is rolled up from.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs: one stop-shingle shared by d docs alone puts d docs in one
    join bucket, the canonical 100x scale-killer.  Sizes count the
    SURVIVING shingles, so the metrics are exact Jaccard/containment in
    the stop-shingle-filtered universe — a true dup pair keeps its score
    (both members lose the same hot shingles) instead of being diluted
    by a full-size denominator.

    Shingles are keyed by a 60-bit md5-derived integer, not the string:
    every join and intersection moves longs instead of 20-40 byte grams.
    Two distinct shingles sharing a key would inflate one pair's
    ``common`` by 1, but 60-bit collisions over even a billion-shingle
    vocabulary are ~3e-4 expected occurrences — and the key is a pure
    function of the shingle, so any engine mirroring the derivation
    (md5 is bit-identical everywhere) reproduces the exact output."""
    from topic_store_spark.functions.hashing import shingle_key60

    # pinned: the df rollup and the join-back both read ``flat``, and
    # unpinned each re-ran the normalize / shingle / md5-key subtree
    flat = _persist_tracked(
        explode_nonempty(sh, "shs", "shingle", "doc").select(
            "doc", shingle_key60(F.col("shingle")).alias("shingle")
        )
    )
    # document frequency as a keyed rollup + join-back, NOT a window
    # count: shingle df is Zipf-distributed, and `count over (partition
    # by shingle)` puts the hottest shingle's entire df in ONE window
    # task (no map-side partials, no AQE splitting for windows) — the
    # measured 3.81x skew cliff of SKEW.md, the same reason r10
    # reverted salient_terms' window form.  The rollup gets partial
    # aggregation; with the cap applied BEFORE the join-back, capped-out
    # hot shingles never join at all, so per-key join fan-out is
    # <= max_shingle_freq by construction (skew-safe even without AQE).
    # Local cost of the second exchange at sf0.1: ~0.2s on this carrier
    # — the scale story wins.
    df_counts = flat.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_shingle_freq is not None:
        df_counts = df_counts.filter(F.col("df") <= max_shingle_freq)
    surv = flat.join(df_counts, "shingle")

    # one doc-keyed rollup: globally-ordered shingle array per doc
    ordered = surv.groupBy("doc").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("shingle")))
        ).alias("_ord")
    )
    docs = ordered.select(
        "doc",
        F.transform(F.col("_ord"), lambda x: x["shingle"]).alias("ss"),
        F.size("_ord").alias("sz"),
    )
    return _persist_tracked(docs)


def _prefix_len(threshold_num: int, threshold_den: int):
    """Prefix length |X| - ceil(t*|X|) + 1 (integer ceil via div)."""
    return (
        F.col("sz")
        - F.expr(f"(sz * {threshold_num} + {threshold_den} - 1) div {threshold_den}")
        + 1
    )


def _jaccard_prefix_cands(
    docs: DataFrame, threshold_num: int, threshold_den: int
) -> DataFrame:
    """Candidate (a_doc, b_doc) pairs that can pass the Jaccard
    threshold, with duplicates (the caller dedups once).

    AllPairs prefix filtering (Bayardo et al. 2007, "Scaling Up All
    Pairs Similarity Search"): under the global shingle order of
    :func:`_ordered_docs` (rarest first), any pair with ``J(A, B) >= t``
    must share a shingle within each side's first ``|X| - ceil(t * |X|)
    + 1`` ordered shingles, so only that PREFIX is self-joined (both
    sides' bounds are valid because J >= t lower-bounds the overlap by
    t*|X| for EACH side).  At t = 0.8 the prefix is ~20% of each doc —
    candidate pairs fall to ~4% of a full shingle self-join's, and the
    prefix skews toward RARE shingles (tiny buckets).

    Tightened by the two sound PPJoin-paper cuts (Xiao et al. 2008)
    applied as join-time predicates BEFORE the distinct + verify:

    - size ratio: J >= t forces min*den >= num*max (else even a full
      overlap of the smaller set cannot reach t);
    - positional upper bound: a join on prefix position p can still
      share at most ``1 + min(|A|-pa, |B|-pb)`` elements (the arrays
      share one global order), which must reach the overlap floor
      ``num*(|A|+|B|) / (num+den)``.

    Both only REMOVE candidates that exact verification would reject,
    so the output pair set is unchanged (pinned against an all-pairs
    reference in test_dedup_similarity); at sf0.1 they cut candidates
    ~2x before the expensive array-intersect verify."""
    num, den = threshold_num, threshold_den
    plen = _prefix_len(num, den)
    prefix = docs.select(
        "doc",
        "sz",
        F.posexplode(F.slice(F.col("ss"), 1, plen)).alias("pos", "shingle"),
    )
    ubound = 1 + F.least(
        F.col("x.sz") - F.col("x.pos") - 1, F.col("y.sz") - F.col("y.pos") - 1
    )
    out = (
        prefix.alias("x")
        .join(prefix.alias("y"), "shingle")
        .filter(F.col("x.doc") < F.col("y.doc"))
    )
    out = out.filter(
        F.least("x.sz", "y.sz") * den >= F.greatest("x.sz", "y.sz") * num
    ).filter(ubound * (num + den) >= (F.col("x.sz") + F.col("y.sz")) * num)
    return out.select(
        F.col("x.doc").alias("a_doc"), F.col("y.doc").alias("b_doc")
    )


def _containment_prefix_cands(
    docs: DataFrame, threshold_num: int, threshold_den: int
) -> DataFrame:
    """Candidate pairs that can pass the containment threshold
    ``common >= t * min(|A|, |B|)``, with duplicates (the caller dedups
    once).  The overlap bound is relative to the SMALLER side only, so
    the prefix principle holds only for it: index the smaller doc's
    prefix against the larger doc's FULL list (prefix x prefix would be
    unsound — the larger side's own-size prefix can legally miss the
    intersection).  Asymmetric-join cost: sum over shingles of
    prefix_df * df, still far below a full self-join's df^2 and skewed
    toward rare shingles.

    Tightened by the PPJoin positional upper bound (sound — see
    `_jaccard_prefix_cands`): a pair joined at positions (px, py) of
    the globally-ordered arrays can still share at most
    ``1 + min(|X|-px, |Y|-py)`` elements, which must reach the
    containment floor ``num * |X| / den`` (X is the smaller side)."""
    num, den = threshold_num, threshold_den
    plen = _prefix_len(num, den)
    prefix = docs.select(
        "doc", "sz",
        F.posexplode(F.slice(F.col("ss"), 1, plen)).alias("pos", "shingle"),
    )
    full = docs.select(
        "doc", "sz", F.posexplode(F.col("ss")).alias("pos", "shingle")
    )
    ubound = 1 + F.least(
        F.col("x.sz") - F.col("x.pos") - 1, F.col("y.sz") - F.col("y.pos") - 1
    )
    out = (
        prefix.alias("x")
        .join(full.alias("y"), "shingle")
        .filter(
            (F.col("x.sz") < F.col("y.sz"))
            | ((F.col("x.sz") == F.col("y.sz")) & (F.col("x.doc") != F.col("y.doc")))
        )
    )
    out = out.filter(ubound * den >= F.col("x.sz") * num)
    return out.select(
        F.least("x.doc", "y.doc").alias("a_doc"),
        F.greatest("x.doc", "y.doc").alias("b_doc"),
    )


def _sized(sh: DataFrame) -> DataFrame:
    """The (doc, ss, sz) side :func:`_verify_candidates` joins, from a
    (doc, shs) shingle-array relation."""
    return sh.select("doc", F.col("shs").alias("ss"), F.size("shs").alias("sz"))


def _verify_candidates(docs: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact (a_doc, b_doc, common, a_sz, b_sz) for distinct candidate
    pairs by intersecting the two docs' full shingle arrays from ``docs``
    (doc, ss, sz) — per-candidate work only, no shingle self-join.  The
    one verification step of the prefix plans and the MinHash
    operators."""
    a = docs.select(
        F.col("doc").alias("a_doc"),
        F.col("ss").alias("a_ss"),
        F.col("sz").alias("a_sz"),
    )
    b = docs.select(
        F.col("doc").alias("b_doc"),
        F.col("ss").alias("b_ss"),
        F.col("sz").alias("b_sz"),
    )
    joined = cands.join(a, "a_doc").join(b, "b_doc")
    # project_once: keep the downstream threshold filter from inlining
    # the intersection into the join condition (3x per pair otherwise)
    return project_once(
        joined, common=F.size(F.array_intersect("a_ss", "b_ss"))
    ).select("a_doc", "b_doc", "common", "a_sz", "b_sz")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with exact n-gram Jaccard >= threshold_num/threshold_den.

    AllPairs/PPJoin prefix plan: the globally-ordered cap-filtered
    shingle arrays (``_ordered_docs``), prefix x prefix candidates
    (``_jaccard_prefix_cands``), exact verification on the full arrays
    (``_verify_candidates``) — the same pairs and metrics as a full
    shingle self-join, from ~(1-t)^2 of its candidates."""
    docs = _ordered_docs(_shingle_arrays(df, text_col, id_col, n), max_shingle_freq)
    cands = _jaccard_prefix_cands(docs, threshold_num, threshold_den).distinct()
    return _jaccard_out(_verify_candidates(docs, cands), threshold_num, threshold_den)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 9,
    threshold_den: int = 10,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs where the SMALLER document's n-gram set is >= threshold
    contained in the union — containment = common / min(|A|, |B|).

    Jaccard misses near-subset duplication (a paragraph quoted inside a
    much longer page scores low Jaccard but containment ~1); this is the
    standard asymmetric complement.  Same plan as
    ``ngram_jaccard_pairs`` with the containment-sound asymmetric
    candidates — the smaller doc's prefix indexed against full lists
    (``_containment_prefix_cands``); the final threshold stays an exact
    cross-multiplied integer test."""
    docs = _ordered_docs(_shingle_arrays(df, text_col, id_col, n), max_shingle_freq)
    cands = _containment_prefix_cands(docs, threshold_num, threshold_den).distinct()
    pairs = _verify_candidates(docs, cands).withColumn(
        "min_sz", F.least("a_sz", "b_sz")
    )
    return pairs.filter(
        F.col("common") * threshold_den >= threshold_num * F.col("min_sz")
    ).select(
        "a_doc",
        "b_doc",
        "common",
        "min_sz",
        (F.col("common") / F.col("min_sz")).alias("containment"),
    )


def word_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    jaccard_num: int = 8,
    jaccard_den: int = 10,
    containment_num: int = 9,
    containment_den: int = 10,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Jaccard AND containment in ONE plan: pairs passing either
    threshold, with both metrics and per-metric hit flags.

    Running ``ngram_jaccard_pairs`` and ``containment_pairs`` separately
    builds the ordered shingle arrays twice for the same corpus; this
    computes both screens from one per-pair (common, |A|, |B|) triple —
    the production shape when a curation pipeline applies multiple
    overlap rules.

    Candidates are the UNION of the Jaccard prefix x prefix join and the
    containment smaller-prefix x full join (see
    `_containment_prefix_cands` for why containment needs the
    asymmetric form), deduped once after the union — the union-level
    distinct's map-side partial aggregate collapses each source's
    duplicates, so one candidate exchange serves both.  A pair passing
    the Jaccard threshold is found by the first branch, one passing
    containment by the second, so the OR-of-thresholds output equals a
    full shingle self-join's (pinned against an all-pairs reference in
    test_dedup_similarity)."""
    docs = _ordered_docs(_shingle_arrays(df, text_col, id_col, n), max_shingle_freq)
    cands = (
        _jaccard_prefix_cands(docs, jaccard_num, jaccard_den)
        .unionByName(_containment_prefix_cands(docs, containment_num, containment_den))
        .distinct()
    )
    pairs = _verify_candidates(docs, cands).withColumns(
        {
            "union_sz": F.col("a_sz") + F.col("b_sz") - F.col("common"),
            "min_sz": F.least("a_sz", "b_sz"),
        }
    )
    jac_hit = F.col("common") * jaccard_den >= jaccard_num * F.col("union_sz")
    con_hit = F.col("common") * containment_den >= containment_num * F.col("min_sz")
    return pairs.filter(jac_hit | con_hit).select(
        "a_doc",
        "b_doc",
        "common",
        "union_sz",
        "min_sz",
        (F.col("common") / F.col("union_sz")).alias("jaccard"),
        (F.col("common") / F.col("min_sz")).alias("containment"),
        jac_hit.alias("jaccard_hit"),
        con_hit.alias("containment_hit"),
    )


def char_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with exact character-n-gram Jaccard >= threshold —
    catches near-dups whitespace/word shingling misses (insertions inside
    words, punctuation edits).  Shingle alphabet is char n-grams of
    whitespace-normalized lowercase text; the plan is
    ``ngram_jaccard_pairs``' prefix plan over those shingles."""
    norm = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), normalize_text(F.col(text_col)).alias("_nt")
    )
    sh = norm.select(
        "doc", F.array_distinct(char_shingles_from_norm(F.col("_nt"), n)).alias("shs")
    )
    docs = _ordered_docs(sh, max_shingle_freq)
    cands = _jaccard_prefix_cands(docs, threshold_num, threshold_den).distinct()
    return _jaccard_out(_verify_candidates(docs, cands), threshold_num, threshold_den)
def _minhash_banded(sh: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc, band) LSH band-key relation from a (doc, shs) shingle-array
    relation, in the scale-canonical flat formulation: explode shingles,
    one codegen'd md5 per shingle reduced to a 28-bit key, then every
    permutation ``min((a_i*x+b_i) mod 2^31-1)`` as a map-side-partial
    aggregate — the only shuffle moves ``num_perm`` longs per document.
    Band key = '<band>|<comma-joined row minima>', identical values to
    ``hashing.minhash_signature_from_keys`` + ``lsh_band_keys_int`` (and
    to the DuckDB oracle), just a cheaper plan."""
    from topic_store_spark.functions.hashing import MERSENNE31, mix_constants

    rows = num_perm // bands
    flat = explode_nonempty(sh.filter(F.size("shs") > 0), "shs", "shingle", "doc")
    x = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
    keyed = flat.select("doc", x.alias("_x"))
    aggs = [
        F.min((F.col("_x") * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31)).alias(
            f"_h{i}"
        )
        for i, (a, b) in enumerate(mix_constants(num_perm))
    ]
    sig = keyed.groupBy("doc").agg(*aggs)
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}|"),
                F.concat_ws(
                    ",", *[F.col(f"_h{b * rows + r}") for r in range(rows)]
                ),
            )
            for b in range(bands)
        ]
    )
    return explode_nonempty(
        sig.select("doc", band_keys.alias("_bands")), "_bands", "band", "doc"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    threshold_num: int = 8,
    threshold_den: int = 10,
) -> DataFrame:
    """MinHash + LSH banding, then exact-Jaccard verification.

    Scale path vs ``ngram_jaccard_pairs``: the shingle self-join is
    replaced by a band-bucket join whose fan-out is O(collisions); the
    verify step pays per-candidate array intersection, nothing global.

    The shingle arrays are persisted (tracked, MEMORY_AND_DISK) because
    they feed two downstream branches (band self-join; pair verify) —
    unpinned, each branch recomputes tokenize+shingle.

    Signature family: universal-hash mixing over one md5-derived 28-bit
    key per shingle — the md5 cost is paid once, the ``num_perm``
    permutations are integer multiply-mods (~num_perm× cheaper than the
    md5-per-permutation family, same banding guarantees).  Computed in
    the flat formulation (``_minhash_banded``): explode shingles, hash
    the flat column inside whole-stage codegen, and reduce each
    permutation as a map-side-partial ``min`` — the per-doc shuffle
    moves ``num_perm`` longs per document, and no interpreted
    higher-order function ever runs per shingle (measured 3× faster
    than the array-HOF form at sf0.1).
    """
    sh = _persist_tracked(_shingle_arrays(df, text_col, id_col, n))
    banded = _minhash_banded(sh, num_perm, bands)
    cands = (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("a_doc"), F.col("y.doc").alias("b_doc"))
        .distinct()
    )
    return _jaccard_out(
        _verify_candidates(_sized(sh), cands), threshold_num, threshold_den
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band-bucket candidates, Hamming-verified.
    A pair within ``max_hamming`` is found iff it collides on >= 1 band
    (guaranteed when max_hamming < bits/band_bits by pigeonhole)."""
    hs = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        token_md5s(tokens(F.col(text_col))).alias("_hs"),
    )
    sigs = hs.select(
        "doc", simhash_long_from_hashes(F.col("_hs"), bits).alias("sim")
    )
    # Work at the *distinct signature* level: duplicate-heavy corpora (the
    # whole point of dedup) collapse to far fewer sims than docs, so the
    # band self-join fans out over unique sims — narrow longs — and the
    # Hamming filter runs BEFORE pairs expand back to documents.  A doc
    # pair appears exactly once: same sim -> intra group, else via its
    # unique (a_sim < b_sim) candidate pair.
    groups = _persist_tracked(
        sigs.groupBy("sim").agg(F.collect_list("doc").alias("docs"))
    )
    banded = explode_nonempty(
        groups.select(
            "sim",
            simhash_long_band_keys(F.col("sim"), bits, band_bits).alias("_bands"),
        ),
        "_bands",
        "band",
        "sim",
    )
    cand_sims = (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .filter(F.col("x.sim") < F.col("y.sim"))
        .select(F.col("x.sim").alias("a_sim"), F.col("y.sim").alias("b_sim"))
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    inter = (
        cand_sims.join(
            groups.select(F.col("sim").alias("a_sim"), F.col("docs").alias("a_docs")),
            "a_sim",
        )
        .join(
            groups.select(F.col("sim").alias("b_sim"), F.col("docs").alias("b_docs")),
            "b_sim",
        )
        .select(F.explode("a_docs").alias("da"), "b_docs", "hamming")
        .select("da", F.explode("b_docs").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("a_doc"),
            F.greatest("da", "db").alias("b_doc"),
            "hamming",
        )
    )
    intra = (
        groups.filter(F.size("docs") > 1)
        .select(F.explode("docs").alias("a_doc"), F.col("docs"))
        .select("a_doc", F.explode("docs").alias("b_doc"))
        .filter(F.col("a_doc") < F.col("b_doc"))
        .withColumn("hamming", F.lit(0))
    )
    return inter.unionByName(intra)


def _cosine_pairs(
    q: DataFrame,
    keys: list[str],
    threshold_num: int,
    threshold_den: int,
    lead: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(*lead, a_id, b_id, cosine_q, a<carry>..., b<carry>...)``: the
    pairs ``a_id < b_id`` of a quantized relation ``q`` (``c_id, c_qv,
    c_n``) that agree on ``keys`` (every pair when ``keys`` is empty)
    and whose quantized cosine is at least ``threshold_num /
    threshold_den``.

    The check is exact: ``dot > 0`` and the cross-multiplied ``den^2 *
    dot^2 >= num^2 * a_n * b_n`` in DECIMAL(38,0) — no FP
    summation-order hazard, oracle-identical.  The dot runs once per
    CANDIDATE PAIR — the hottest expression of the embedding family — so
    it is staged through ``project_once``: the threshold filter cannot
    inline it into the join condition (an inlined form evaluated the
    fold 4x per pair).  ``carry`` columns ride both sides as
    ``a<col>``/``b<col>``."""

    def side(p: str) -> DataFrame:
        return q.select(
            F.col("c_id").alias(f"{p}_id"), F.col("c_qv").alias(f"{p}_qv"),
            F.col("c_n").alias(f"{p}_n"), *keys,
            *[F.col(k).alias(f"{p}{k}") for k in carry],
        )

    left, right = side("a"), side("b")
    joined = left.join(right, keys) if keys else left.crossJoin(right)
    dec = "decimal(38,0)"
    return (
        project_once(
            joined.filter(F.col("a_id") < F.col("b_id")),
            dot=_int_dot("a_qv", "b_qv"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast(dec) * F.col("dot").cast(dec) * (threshold_den**2)
                >= F.col("a_n").cast(dec) * F.col("b_n").cast(dec) * (threshold_num**2)
            )
        )
        .select(
            *lead,
            "a_id",
            "b_id",
            _cosine_q("dot", "a_n", "b_n"),
            *[F.col(f"a{k}") for k in carry],
            *[F.col(f"b{k}") for k in carry],
        )
    )


def _pair_side(df: DataFrame, id_col: str, vec_col: str, **extra) -> DataFrame:
    """The ``c`` :func:`_quantized` view of ``df`` that
    :func:`_cosine_pairs` joins, its self-dot ``c_n`` behind a
    :func:`project_once` barrier.  The
    pair threshold's null-intolerant use of ``a_n``/``b_n`` makes
    Catalyst infer ``isnotnull(c_n)``; unbarred, that predicate is
    pushed below the staging into each scan's Filter (and the parquet
    ``DataFilters``) with the self-dot and two quantize transforms
    inlined — three quantize passes per row.  Behind the barrier the
    predicate reads the once-computed value."""
    q = _quantized(ensure_parallelism(df), id_col, vec_col, "c", **extra)
    return project_once(q.drop("c_n"), c_n=F.expr(int_self_dot_sql("c_qv")))


def embedding_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_num: int = 95,
    threshold_den: int = 100,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane buckets
    generate candidates (pair space ~ n^2 / 2^planes instead of n^2),
    then the exact cross-multiplied cosine threshold verifies each.

    High-cosine pairs collide with probability (1 - theta/pi)^planes —
    near-dups (theta ~ 0.3 rad for cos >= 0.95) survive 8 planes with
    ~45%+ per-bucket odds and in practice are caught by the bucket their
    near-identical vectors share; exact recall needs multiple tables
    (call with different plane seeds and union).  Everything is
    deterministic md5-derived, so the SQL oracle reproduces the exact
    pair set.  Each vector hashes to exactly one bucket, so every (a,b)
    pair appears at most once — no dedup shuffle needed."""
    q = _pair_side(
        df, id_col, vec_col,
        bucket=F.expr(lsh_bucket_key_sql(_q(vec_col), planes, dim)),
    )
    return _cosine_pairs(q, ["bucket"], threshold_num, threshold_den)


#: ``embedding_dup_pairs`` refuses inputs past this size — the crossJoin
#: pair space (n^2/2) stops being a "verification baseline" around here.
EMBEDDING_EXACT_MAX_ROWS = 50_000


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_num: int = 95,
    threshold_den: int = 100,
    max_rows: int | None = EMBEDDING_EXACT_MAX_ROWS,
) -> DataFrame:
    """Near-duplicate pairs by quantized cosine >= num/den.

    The exact check of :func:`_cosine_pairs` over every pair.
    Brute-force O(n^2) pair space: correct VERIFICATION BASELINE only —
    guarded by ``max_rows`` (default 50k vectors; pass ``None`` to bypass
    deliberately).  The scale path is ``embedding_dup_pairs_lsh`` /
    ``similarity.lsh_ann_neighbors``.
    """
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_dup_pairs is the O(n^2) verification baseline: "
                f"{n} input vectors > max_rows={max_rows}. Use "
                f"embedding_dup_pairs_lsh (bucketed scale path) or pass "
                f"max_rows=None to force."
            )
    q = _pair_side(df, id_col, vec_col)
    return _cosine_pairs(q, [], threshold_num, threshold_den)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_doc",
    b_col: str = "b_doc",
    max_iter: int = 50,
    driver_max_edges: int = 1 << 20,
) -> DataFrame:
    """Connected components over a duplicate-pair relation — the
    clustering step that turns pairwise near-dup hits into "keep one doc
    per group": every document is labeled with the minimum doc id
    reachable through dup edges.  Returns ``(node, component)`` for every
    document that appears in a pair; singletons are their own implicit
    components.

    Algorithm: alternating large-star / small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", 2014) —
    O(log n) rounds on ANY graph shape, unlike min-label propagation
    whose round count is the diameter of the largest cluster (a 10k-node
    chain of borderline near-dups would need 10k propagation rounds and
    silently return unconverged labels at any fixed bound; star
    contraction finishes it in ~15).

    - large-star: every node's strictly-larger neighbors re-point to the
      minimum of its closed neighborhood;
    - small-star: every node and its smaller neighbors re-point to the
      minimum of its smaller neighbors.

    Both are one groupBy-min + one join over the PAIR graph (orders of
    magnitude smaller than the corpus).  Each round is materialized
    (``materialize_iter``: checkpoint under a configured checkpoint dir,
    else localCheckpoint), so lineage stays flat; convergence is an exact
    edge-set comparison (count equality + one anti-join).  Raises if the
    bound is hit unconverged — wrong cluster labels must never ship
    silently.

    Two tiers, chosen by the size of the raw pair relation:

    1. **Driver-local** (raw pairs <= ``driver_max_edges`` = K): the
       verified pair graph is typically minuscule next to the corpus.
       ONE eager :func:`bounded_collect` of the raw ``(u, v)`` pair
       projection both picks the tier and fetches its input: when it
       returns at most K rows it is the complete pair multiset, so
       union-find AND the label relation are computed on the driver and
       returned as a local relation — no checkpoint, no distributed node
       join, one job total (the same bounded-collect logic as a
       broadcast join).  Driver memory envelope: at the default K = 2^20
       the probe transiently holds <= 2^20 ``(u, v)`` pairs as an Arrow
       table and two lists of Python ids, released after the
       union-find (the label relation is <= 2 longs per distinct
       node).
       Callers needing a smaller envelope pass a smaller
       ``driver_max_edges``.
    2. **Distributed** (raw pairs > K): the probe's overflow is caught
       (its rows, an arbitrary subset, are never used), the raw pair projection
       and then the canonical edge set are checkpointed, and the
       star-contraction rounds run.  Overflow cost: the pipeline that
       produced ``pairs`` runs twice — once for the probe and once more
       for the checkpoint.
    """
    import pyarrow as pa

    from topic_store_spark.codec import rows_to_arrow
    from topic_store_spark.operators.util import materialize_iter

    # tier 1: probe the RAW pair projection (no checkpoint — this is
    # the only action that consumes it when the probe fits).  limit
    # below the bound returns every row, so the probe IS the complete
    # pair multiset; union-find labels are min-reachable-id under any
    # union order, so row order/duplicates are irrelevant.
    try:
        raw = bounded_collect(
            pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
            driver_max_edges,
            "connected_components",
        )
    except BoundedCollectOverflow:
        raw = None
    if raw is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        seen = set()
        us, vs = raw.column("u").to_pylist(), raw.column("v").to_pylist()
        for u, v in zip(us, vs):
            seen.add(u)
            seen.add(v)
            # null endpoints carry no connectivity (the distributed
            # path's ``u != v`` filter is null-rejecting); self-loops
            # label themselves via ``seen``
            if u is None or v is None or u == v:
                continue
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by value: the smaller id becomes the root, which
                # IS the component label the distributed path converges to
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        labels = [(x, find(x)) for x in seen]
        node_type = pairs.schema[a_col].dataType
        lab_schema = StructType(
            [
                StructField("node", node_type, True),
                StructField("component", node_type, True),
            ]
        )
        # an Arrow local relation: a Python list would pickle through
        # parallelize and start Python workers to read it back
        batch = rows_to_arrow(labels, lab_schema)
        return pairs.sparkSession.createDataFrame(
            pa.Table.from_batches([batch]), lab_schema
        )

    # tier 2: materialize the raw pair projection once: every later
    # reference (node set, initial edges) reads the checkpoint instead of
    # re-running the candidate-generation pipeline that produced the pairs
    e = materialize_iter(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # canonical undirected edge: (bigger, smaller); self-loops carry no
    # connectivity (their nodes still label themselves via ``nodes``)
    edges = materialize_iter(
        e.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    n_edges = edges.count()

    for _ in range(max_iter):
        # -- large-star: group the symmetrized graph by u; neighbors v > u
        #    re-point to min({u} ∪ Γ(u)).
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: edges already point big -> small; u and its
        #    smaller neighbors re-point to min(Γ_small(u)).
        small_mins = large.groupBy("u").agg(F.min("v").alias("m"))
        new_edges = materialize_iter(
            large.join(small_mins, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    )
                ).alias("edge")
            )
            .select("edge.u", "edge.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_count = new_edges.count()
        if new_count == n_edges and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            break
        edges, n_edges = new_edges, new_count
    else:
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} "
            "large-star/small-star rounds"
        )

    # converged: edges form stars (node -> component root); roots and
    # isolated nodes label themselves
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("root")),
        "node",
        "left",
    ).select("node", F.coalesce("root", "node").alias("component"))


def _semantic_assignment(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    n_probe: int,
    probe_eps: float,
    max_cluster_size: int | None,
    dim: int | None = None,
):
    """Shared centroid-assignment relation for the semantic-dedup
    family: quantize, broadcast-assign each vector to its best centroid
    (or ``n_probe`` near-tie centroids), persist, and — when the
    ``max_cluster_size`` valve is on — attach the deterministic
    hyperplane-sign sub-bucket key.  Returns ``(assigned, join_keys)``
    where ``assigned`` has columns ``c_id, c_qv, c_n, cluster_id``
    (plus ``_sub`` when sub-split) and ``join_keys`` is the pair-join
    key list.  Factored out of :func:`semantic_cluster_dedup` (r13) so
    :func:`semantic_bucket_audit` exposes the exact same sub-bucket
    assignment the pair join uses."""
    cen = _quantized(centroids, id_col, vec_col, "cen")
    # no round-robin spread of the input (``ensure_parallelism``): the
    # cluster repartition below follows the per-row assignment, so a
    # spread would move every vector twice, and cost one more eager
    # stage in the pin's probe, to parallelize inputs with fewer files
    # than cores
    c = _quantized(df, id_col, vec_col, "c")

    cen_rows = None
    if n_probe <= 1:
        # per-row argmax over the collected quantized centroid literals
        # — map-side assignment, no corpus-scale exchange (a groupBy
        # argmax would shuffle every row WITH its 64-long vector payload
        # just to pick a max over |centroids| candidates).  The collect
        # is bounded by the centroid count — the same budget as the ANN
        # codebook collects.  Affinity arithmetic and tie-break match
        # the multi-probe ranking below (same fold dot over the same
        # JVM-quantized longs, same double division by
        # SQRT(CAST(n AS DOUBLE)), struct-ordered (aff, -cen_id)) —
        # checked against a brute-force reference in
        # tests/test_semantic_fuzz.py and by the oracle.
        ctype = cen.schema["cen_id"].dataType
        cen_rows = bounded_collect(
            cen, MAX_BUILD_ROWS, "semantic_cluster_dedup centroids"
        ).to_pylist()
        if not cen_rows:
            assigned = (
                c.select(
                    "c_id", "c_qv", "c_n",
                    F.lit(None).cast(ctype).alias("cluster_id"),
                )
                .filter(F.lit(False))
            )
        else:
            # project_once barrier (the ann_ivf lesson): the pair join's
            # inferred isnotnull(cluster_id) predicate would otherwise
            # push below this projection and re-run the whole argmax
            best_sql = argmax_best_sql(cen_rows, "c_qv", ctype)
            assigned = project_once(
                c, cluster_id=F.expr(f"({best_sql}).cen_id")
            ).select("c_id", "c_qv", "c_n", "cluster_id")
    else:
        # multi-probe: rank the (small, constant) centroid list per
        # vector and keep probe 1 unconditionally plus probes 2..n_probe
        # whose affinity is within probe_eps (relative) of the best
        probes = F.slice(
            F.sort_array(
                F.collect_list(_cen_rank("cen_id", "c_qv", "c_n")), asc=False
            ),
            1,
            n_probe,
        )
        grouped = (
            _with_affinity(c, cen, "c_qv")
            .groupBy("c_id")
            .agg(probes.alias("probes"))
        )
        best_aff = F.col("probes")[0]["aff"]
        near_tie = (best_aff - F.col("p.aff")) <= probe_eps * F.greatest(
            F.abs(best_aff), F.lit(1.0)
        )
        assigned = (
            grouped.select("c_id", "probes", F.posexplode("probes").alias("pos", "p"))
            .filter((F.col("pos") == 0) | near_tie)
            .select(
                "c_id",
                F.col("p.c_qv").alias("c_qv"),
                F.col("p.c_n").alias("c_n"),
                F.col("p.cen_id").alias("cluster_id"),
            )
        )
    # the assignment is pinned HASH-PARTITIONED BY CLUSTER with its AQE
    # plan finalized: both sides of every pair self-join (hash(cluster)
    # is a subset of the (cluster, _sub) join keys, the same rule
    # doc-keyed rollups ride), the bucket-audit rollup and the size
    # rollup below then inherit the partitioning with NO further
    # exchange.  One corpus-scale repartition buys every consumer;
    # without it each pair join shuffled BOTH sides per branch
    # (measured in the r13 fused-report plan: 7 at-scale exchanges ->
    # 3).  The one pin also serves the sub-split: its size rollup reads
    # the pin, and the sign bits are a projection over it that each
    # consumer evaluates (a second pin of the sub-split relation would
    # cost another eager job to expose its partitioning).
    assigned = expose_cached_partitioning(
        _persist_tracked(hash_partition(assigned, "cluster_id"))
    )
    join_keys = ["cluster_id"]
    if max_cluster_size is not None:
        # sub-split oversized clusters: bucket count from the cluster's
        # own size; bucket id = the first ceil(log2(n_sub)) SIGN BITS of
        # the deterministic hyperplane projections (near-parallel pairs
        # co-bucket with ~0.9/bit, see docstring) — same vector, same
        # bucket on every run/engine, so capped runs are reproducible.
        # 16 planes cap the split at 65536 buckets per cluster.  An
        # empty centroid relation means an empty assignment: no
        # sub-split, the same empty pair set the uncapped path returns.
        if dim is not None:
            vdim = dim
        elif cen_rows is not None:
            vdim = len(cen_rows[0]["cen_qv"]) if cen_rows else 0
        else:
            dim_row = centroids.select(vec_col).first()
            vdim = len(dim_row[0]) if dim_row and dim_row[0] is not None else 0
        if vdim > 0:
            # r13: each sign bit is a 16-fold higher-order projection
            # PER ROW — compute only the planes any cluster can use:
            # max_bits = ceil(log2(ceil(max|c|/cap))), clamped to the
            # 16-plane / 65536-bucket ceiling.  Prefixes are unchanged
            # (plane p's bit never depends on the plane count), so
            # capped outputs are identical to the all-16-planes form —
            # measured r13: the capped sf0.1 carrier branch 3.7s -> ~2s.
            size_rows = bounded_collect(
                assigned.groupBy("cluster_id").agg(
                    F.count(F.lit(1)).alias("_csize")
                ),
                MAX_BUILD_ROWS,
                "semantic_cluster_dedup cluster sizes",
            ).to_pylist()
            max_sub = max(
                (
                    max(-(-r["_csize"] // max_cluster_size), 1)
                    for r in size_rows
                ),
                default=1,
            )
            max_bits = min((max_sub - 1).bit_length(), 16)
            if max_bits > 0:
                n_sub = F.greatest(
                    F.ceil(F.col("_csize") / max_cluster_size), F.lit(1)
                ).cast("double")
                b_bits = F.least(
                    F.ceil(F.log2(n_sub)).cast("int"), F.lit(16)
                )
                # r14: the sizes are already on the driver — ``_csize``
                # is a LITERAL MAP LOOKUP, not a join back to the
                # rollup.  Every downstream op (n_sub / b_bits /
                # substring) is the identical JVM expression over the
                # identical exact counts; every assigned cluster_id
                # appears in size_rows by construction.
                csize_map = F.create_map(
                    *[
                        lit
                        for r in size_rows
                        for lit in (
                            F.lit(r["cluster_id"]), F.lit(r["_csize"])
                        )
                    ]
                )
                assigned = (
                    assigned.withColumn(
                        "_csize", F.element_at(csize_map, F.col("cluster_id"))
                    )
                    .withColumn(
                        "_bits",
                        F.expr(lsh_bucket_key_sql(_q("c_qv"), max_bits, vdim)),
                    )
                    .withColumn("_sub", F.substring("_bits", F.lit(1), b_bits))
                    .drop("_bits", "_csize")
                )
                join_keys = ["cluster_id", "_sub"]
    return assigned, join_keys


def semantic_cluster_dedup(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_num: int = 95,
    threshold_den: int = 100,
    n_probe: int = 1,
    probe_eps: float = 0.05,
    max_cluster_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: broadcast centroid
    assignment partitions the corpus into clusters, near-dup pairs are
    generated ONLY within a cluster (cluster-keyed equi-join), and each
    candidate is verified with the exact cross-multiplied
    quantized-cosine threshold.

    The 100 TB shape of semantic dedup: pair space falls from n^2 to
    sum(|cluster|^2), assignment is one broadcast pass (centroid count is
    small by construction), and the only shuffle keys on cluster id.

    That pair space is quadratic IN THE CLUSTER SIZE, so the centroid
    count must grow with the corpus (SemDeDup's own regime: k ~ n /
    target_cluster_size).  Measured on the r12 sf1 fixture: holding
    k=8 fixed while the corpus grew 10x took the carrier from 1.5s to
    56s — the sum(|c|^2) blowup, not an engine defect.  When the
    centroid set CANNOT scale (it is often a fixed model artifact),
    ``max_cluster_size`` is the safety valve: clusters above the cap
    are deterministically sub-split into ~ceil(|c|/cap) buckets (next
    power of two) and pairs generate within a (cluster, bucket), so
    per-bucket pair space shrinks ~quadratically and the job degrades
    gracefully instead of melting.  The bucket key is NOT a content
    hash — a hash sends a 0.95-cosine pair to the same bucket with
    probability only 1/n_sub — but the first ``b = ceil(log2(n_sub))``
    sign bits of the deterministic hyperplane projections shared with
    ``lsh_ann_neighbors``: near-parallel vectors agree per plane with
    p ~= 1 - theta/pi (~0.90 at the 0.95 threshold), so a true
    near-dup pair lands together with ~0.9^b instead of 1/2^b — the
    standard cosine-LSH argument.  Trades, stated honestly: recall is
    probabilistic (P(miss) ~= 1 - 0.9^b per near-dup pair in an
    oversized cluster), and the bound is expected-case (sign buckets
    are uneven; a cluster of IDENTICAL vectors stays one bucket — run
    exact dedup first, its pairs are inherently quadratic).  The same
    honest knob as the text family's ``max_shingle_freq``:
    correctness-exact runs leave it None, web-scale runs with frozen
    centroids set it to the largest size one task's pair scan absorbs.
    Setting it runs one eager, bounded size rollup off the pinned
    assignment (the plane count), with no exchange.

    Recall caveat of ``n_probe=1`` (any single-assignment scheme): a
    near-dup pair split across two clusters is missed — near-identical
    vectors have near-identical centroid affinities, so the failure mode
    is an affinity near-tie at a cluster boundary.  ``n_probe=2`` is the
    standard fix: a vector is ALSO assigned to its runner-up centroid
    when that affinity is within ``probe_eps`` (relative) of the best,
    and the pair set is deduplicated (a pair found in two shared
    clusters reports its smallest discovering cluster).  Cost: the
    assignment aggregate carries the per-vector centroid list through
    the shuffle (n x |centroids| rows instead of n) plus boundary
    vectors joining in two clusters — pay it when boundary recall
    matters more than the pair-space saving.

    Deterministic end-to-end (md5-free: affinity ranking uses exact
    integer dots with ``cen_id`` tie-break), so the SQL oracle reproduces
    the exact pair set.
    """
    assigned, join_keys = _semantic_assignment(
        df, centroids, vec_col, id_col, n_probe, probe_eps, max_cluster_size,
        dim,
    )
    return _pairs_within(
        assigned, join_keys, threshold_num, threshold_den, n_probe
    )


def _pairs_within(
    assigned: DataFrame,
    join_keys: list[str],
    threshold_num: int,
    threshold_den: int,
    n_probe: int = 1,
    carry: list[str] | None = None,
) -> DataFrame:
    """Within-group near-dup pairs off a (persisted) assignment
    relation: self-join on ``join_keys``, exact cross-multiplied
    quantized-cosine threshold.  Factored out of
    :func:`semantic_cluster_dedup` (r13) so
    :func:`semantic_dedup_report` generates both the capped and the
    uncapped pair sets from ONE assignment pass.

    ``carry`` (r13 optimization round): extra assignment columns
    carried through BOTH sides of the join as ``a<col>``/``b<col>``
    output columns (e.g. ``carry=["_sub"]`` -> ``a_sub``/``b_sub``) —
    this is how the fused report derives the CAPPED pair set from the
    uncapped join with a filter instead of a second corpus-scale
    self-join (a pair is within the same (cluster, sub-bucket) iff it
    is within the same cluster AND both ends carry the same sub key).
    Only meaningful for single-assignment relations (n_probe == 1)."""
    if carry and n_probe > 1:
        raise ValueError("_pairs_within: carry requires n_probe == 1")
    pairs = _cosine_pairs(
        assigned, join_keys, threshold_num, threshold_den,
        lead=("cluster_id",), carry=carry or (),
    )
    if n_probe > 1:
        # a pair co-assigned to two shared clusters is found twice —
        # dedupe on the ids, reporting the smallest discovering cluster
        pairs = pairs.groupBy("a_id", "b_id").agg(
            F.min("cluster_id").alias("cluster_id"),
            F.first("cosine_q").alias("cosine_q"),
        ).select("cluster_id", "a_id", "b_id", "cosine_q")
    return pairs


def semantic_dedup_report(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold_num: int = 95,
    threshold_den: int = 100,
    max_cluster_size: int = 32,
    dim: int | None = None,
) -> DataFrame:
    """Fused semantic-dedup audit: ONE centroid assignment pass feeds
    (a) the exact ``uncapped`` within-cluster pair set, (b) the
    ``capped`` pair set under the ``max_cluster_size`` hyperplane
    sub-split valve, and (c) the ``bucket_audit`` per-(cluster, sub)
    occupancy histogram — row-identical to composing
    :func:`semantic_cluster_dedup` (with and without the cap) and
    :func:`semantic_bucket_audit`, which is how the driver oracle
    states it (equality pinned in tests/test_dedup_similarity.py).

    Scale shape (r13): the composed form pays THREE corpus-scale
    assignment aggregations (one per operator call — each is a
    map-collapsed n-row exchange); all three branches here read the
    SAME persisted, sub-bucketed assignment, so the corpus is
    assigned and shuffled once.  The uncapped branch simply ignores
    the ``_sub`` key.  Sub-bucket prefix semantics and the recall
    trade are documented on :func:`semantic_cluster_dedup`.
    """
    assigned, _ = _semantic_assignment(
        df, centroids, vec_col, id_col, 1, 0.05, max_cluster_size, dim
    )
    out_cols = ["cluster_id", "a_id", "b_id", "cosine_q"]
    if "_sub" in assigned.columns:
        # r13: ONE corpus-scale pair self-join serves both branches —
        # a pair is within the same (cluster, sub-bucket) iff it is
        # within the same cluster AND both ends carry the same sub key,
        # so the capped set is a FILTER of the uncapped join (the
        # capped candidates are a subset; the threshold predicate is
        # identical).  The former second self-join re-ran the per-pair
        # dot fold over that whole subset.  The shared pair relation is
        # pair-count-sized (post-threshold), so pinning it costs
        # nothing next to re-running the join per branch.
        both = _persist_tracked(
            _pairs_within(
                assigned, ["cluster_id"], threshold_num, threshold_den,
                carry=["_sub"],
            )
        )
        full = both.select(*out_cols)
        capped = both.filter(F.col("a_sub") == F.col("b_sub")).select(*out_cols)
    else:
        # valve idle: the capped join keys degenerate to ["cluster_id"]
        # — both branches ARE the same relation; compute it once.
        both = _persist_tracked(
            _pairs_within(assigned, ["cluster_id"], threshold_num, threshold_den)
        )
        full = both.select(*out_cols)
        capped = both.select(*out_cols)
    sub = F.col("_sub") if "_sub" in assigned.columns else F.lit("")
    audit = (
        assigned.groupBy("cluster_id", sub.alias("sub"))
        .agg(F.count(F.lit(1)).alias("n_vec"))
    )
    nul = [
        F.lit(None).cast("string").alias("sub"),
        F.lit(None).cast("long").alias("n_vec"),
    ]
    return (
        full.select(F.lit("uncapped").alias("variant"), "*", *nul)
        .unionByName(
            capped.select(F.lit("capped").alias("variant"), "*", *nul)
        )
        .unionByName(
            audit.select(
                F.lit("bucket_audit").alias("variant"),
                "cluster_id",
                F.lit(None).cast("long").alias("a_id"),
                F.lit(None).cast("long").alias("b_id"),
                F.lit(None).cast("double").alias("cosine_q"),
                "sub",
                F.col("n_vec").cast("long").alias("n_vec"),
            )
        )
    )


def semantic_bucket_audit(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
    probe_eps: float = 0.05,
    max_cluster_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Per-(cluster, sub-bucket) occupancy rollup of the EXACT
    assignment relation :func:`semantic_cluster_dedup` joins pairs on —
    same :func:`_semantic_assignment`, same persisted relation shape.

    Why it exists (r13): the ``max_cluster_size`` sub-split is
    deterministic (hyperplane sign bits over the quantized vector), so
    an external engine can recompute every vector's bucket — but the
    pair output alone cannot certify the bucket keys when the only
    surviving near-dup pairs are identical vectors (identical vectors
    co-bucket under ANY sign function).  This audit exposes the full
    occupancy histogram: one wrong sign bit anywhere moves a vector
    between buckets and shifts two counts.  Returns
    ``(cluster_id, sub, n_vec)`` with ``sub = ''`` when the valve is
    off or no cluster exceeds the cap.
    """
    assigned, join_keys = _semantic_assignment(
        df, centroids, vec_col, id_col, n_probe, probe_eps, max_cluster_size,
        dim,
    )
    sub = F.col("_sub") if "_sub" in assigned.columns else F.lit("")
    return (
        assigned.groupBy("cluster_id", sub.alias("sub"))
        .agg(F.count(F.lit(1)).alias("n_vec"))
    )


def exact_duplicates_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Exact dedup of a NEW batch against an existing corpus (plus
    within-batch): returns one row per new document that collides,
    with the keeper (minimum id across corpus+batch for its
    fingerprint) and ``is_keeper`` flagging the case where the new doc
    itself sorts first — the caller must then evict the corpus copy
    rather than drop the new one.  The production ingest shape — the
    corpus side contributes only its fingerprint column, never
    re-pairs itself.

    ``bloom_prefilter=True`` builds a Bloom filter over the BATCH
    fingerprints (~10 bits/doc, one extra job over the small side) and
    drops corpus rows map-side before the keeper shuffle: at 100 TB the
    corpus scan then feeds the shuffle only its actual collisions plus a
    ~1% false-positive sliver, instead of every corpus fingerprint.
    Results are bit-identical either way — Bloom filters have no false
    negatives, and false positives match nothing in the exact groupBy
    (`operators/bloom.py`).
    """
    fp_corpus = ensure_parallelism(corpus_df).select(
        md5_fingerprint(F.col(text_col)).alias("fp"),
        F.col(id_col).alias("doc"),
    )
    fp_new = ensure_parallelism(new_df).select(
        md5_fingerprint(F.col(text_col)).alias("fp"),
        F.col(id_col).alias("doc"),
    )
    if bloom_prefilter:
        from pyspark import StorageLevel

        from topic_store_spark.operators.bloom import bloom_build, bloom_contains

        fp_new = fp_new.persist(StorageLevel.MEMORY_AND_DISK)
        bf = bloom_build(fp_new, "fp")
        fp_corpus = fp_corpus.filter(bloom_contains(bf, F.col("fp")))
    keepers = (
        fp_corpus.unionByName(fp_new)
        .groupBy("fp")
        .agg(F.min("doc").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        fp_new.join(keepers, "fp")
        .filter(F.col("n_docs") > 1)
        .select(
            F.col("doc").alias("doc_id"),
            "keep_id",
            "fp",
            (F.col("doc") == F.col("keep_id")).alias("is_keeper"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Cross-document exact-substring duplication (the ExactSubstr family
    of Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): every ``window``-token sliding window is
    fingerprinted; windows whose exact content occurs ``min_occurrences``
    or more times ANYWHERE in the corpus (another document or a repeat
    within the same one) mark their token range as duplicated, and
    overlapping marked ranges merge into maximal spans per document.

    Returns one row per maximal duplicated span: ``(doc_id, span_start,
    span_end, n_dup_tokens, n_windows)`` with 0-based token offsets,
    ``span_end`` exclusive.  Callers remove or clip the spans (the
    paper's treatment) or threshold on the per-doc duplicated fraction.

    Scale shape — the reference engine has no analog (single-node suffix
    arrays don't distribute); this is the Spark-native equivalent:

    - window fingerprints are md5 of the space-joined token slice —
      content-exact, engine-portable (the SQL oracle reproduces them),
      and computed in a staged projection (perf contract of
      ``shingles_from_tokens``);
    - the only corpus-wide shuffle is the fingerprint frequency count,
      which partial-aggregates map-side; duplicated fingerprints attach
      back via a LEFT SEMI join — fan-out 1, so a boilerplate window
      shared by millions of documents costs its row count, never a
      pair-space blowup (contrast the capped Jaccard self-joins);
    - span merging is gaps-and-islands per document: with a fixed window
      width the positions are sorted per doc and a new island starts
      exactly when ``pos > prev_pos + window``; the per-doc sort is
      bounded by document length, never corpus size.
    """
    tk = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_tk")
    )
    grams = tk.select(
        "doc", shingles_from_tokens(F.col("_tk"), window).alias("_grams")
    )
    wins = grams.select(
        "doc", F.posexplode_outer("_grams").alias("pos", "_gram")
    ).filter(F.col("_gram").isNotNull()).select(
        "doc", F.col("pos").cast("long").alias("pos"), F.md5("_gram").alias("fp")
    )
    dup_fps = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_occurrences)
        .select("fp")
    )
    dup_wins = wins.join(dup_fps, "fp", "left_semi")
    w = Window.partitionBy("doc").orderBy("pos")
    prev = F.lag("pos").over(w)
    flagged = dup_wins.withColumn(
        "_new", F.when(prev.isNull() | (F.col("pos") > prev + window), 1).otherwise(0)
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        flagged.groupBy(F.col("doc").alias("doc_id"), "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_dup_tokens"),
            "n_windows",
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_pattern: str = r"\n{2,}",
    join_sep: str = "\n\n",
) -> DataFrame:
    """Corpus-level paragraph deduplication (the FineWeb / RefinedWeb
    recipe): documents split into paragraphs, each paragraph kept only at
    its FIRST corpus occurrence (minimum ``(doc, pos)`` over its
    normalized fingerprint — boilerplate headers/footers repeated across
    a crawl survive exactly once), and every document reassembled from
    its surviving paragraphs in original order.

    Returns ``(doc_id, n_paras, n_kept, clean_text)`` — one row per
    input document, ``clean_text`` empty when every paragraph was seen
    earlier elsewhere.

    Scale shape (r12 — one join and one exchange fewer): the keeper's
    TEXT rides inside the fingerprint aggregate itself —
    ``min(struct(doc, pos, para))`` picks the first-occurrence row AND
    carries its paragraph, because (doc, pos) is unique per occurrence
    so the struct order never reaches the third field.  That deletes
    the r11 attach-join (keepers back onto the paragraph relation),
    whose LEFT side re-shuffled the full paragraph relation on the
    fingerprint a second time, and with it the second run of the
    explode+md5 lineage.  The aggregate has map-side partials, so a
    crawl-wide boilerplate footer collapses to one row per map
    partition before the shuffle — no window sort, no hot task.
    Reassembly is one shuffle on the document id with a bounded
    per-doc sort; per-doc paragraph TOTALS come map-side from the
    source's split array (r9: ``size(filter(split(...)))``).  At-scale
    exchanges: fingerprint rollup, doc reassembly, totals join — three.
    """
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt"))
    )
    paras = (
        src.select(
            "doc",
            F.posexplode_outer(
                F.filter(F.split(F.col("_txt"), sep_pattern), lambda p: p != "")
            ).alias("pos", "para"),
        )
        .filter(F.col("para").isNotNull())
        .select("doc", F.col("pos").cast("long").alias("pos"), "para")
    )
    paras = paras.withColumn("fp", F.md5(normalize_text(F.col("para"))))
    kept = (
        paras.groupBy("fp")
        .agg(F.min(F.struct("doc", "pos", "para")).alias("_k"))
        .select(
            F.col("_k.doc").alias("doc"),
            F.col("_k.pos").alias("pos"),
            F.col("_k.para").alias("para"),
        )
    )
    # same doc set as the old paras.groupBy(doc): docs whose text is
    # null or splits to no non-empty paragraph contribute no rows
    totals = src.select(
        "doc",
        F.size(
            F.filter(F.split(F.col("_txt"), sep_pattern), lambda p: p != "")
        ).cast("long").alias("n_paras"),
    ).filter(F.col("n_paras") > 0)
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias("clean_text"),
    )
    return (
        totals.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    threshold_num: int = 8,
    threshold_den: int = 10,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pairs where at least one side is in the NEW
    batch: (new x corpus) and (new x new) candidates only — the corpus
    NEVER self-joins, so incremental ingest cost is proportional to the
    batch's band collisions, not the corpus pair space.

    Scale shape: in a standing pipeline the corpus's banded signatures
    are the persisted index (compute once, append per batch); here they
    are derived in-line from ``corpus_df``.  The band join keys
    (batch side) against (corpus+batch) bands; candidates canonicalize
    to (smaller, larger) and verify with exact per-pair Jaccard, same as
    ``minhash_lsh_pairs``.

    ``bloom_prefilter=True`` additionally builds a Bloom filter over the
    BATCH band keys and applies it map-side to the corpus+batch band
    relation before the candidate join: corpus bands that cannot collide
    with the batch never reach the join's shuffle.  Identical results
    (no false negatives; a false positive's band still equi-matches
    nothing) — see `operators/bloom.py` for the cost model.
    """
    all_df = corpus_df.select(F.col(id_col), F.col(text_col)).unionByName(
        new_df.select(F.col(id_col), F.col(text_col))
    )
    sh = _persist_tracked(_shingle_arrays(all_df, text_col, id_col, n))
    banded_all = _persist_tracked(_minhash_banded(sh, num_perm, bands))
    new_ids = new_df.select(F.col(id_col).alias("doc"))
    banded_new = banded_all.join(new_ids, "doc", "left_semi")
    banded_rhs = banded_all
    if bloom_prefilter:
        from topic_store_spark.operators.bloom import bloom_build, bloom_contains

        bf = bloom_build(banded_new, "band")
        banded_rhs = banded_all.filter(bloom_contains(bf, F.col("band")))
    cands = (
        banded_new.alias("x")
        .join(banded_rhs.alias("y"), "band")
        .filter(F.col("x.doc") != F.col("y.doc"))
        .select(
            F.least("x.doc", "y.doc").alias("a_doc"),
            F.greatest("x.doc", "y.doc").alias("b_doc"),
        )
        .distinct()
    )
    return _jaccard_out(
        _verify_candidates(_sized(sh), cands), threshold_num, threshold_den
    )
