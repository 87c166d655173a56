"""Differential fuzzer for the DEDUP OPERATOR family — the first fuzz
coverage of distributed-algorithm operators rather than query-language
compilation.  Random corpora with seeded near-duplicates are pushed
through the real public APIs (`operators/dedup.py`) and through
brute-force pure-Python references of the documented definitions:

- `word_overlap_pairs` / `containment_pairs` / `char_jaccard_pairs`
  vs an all-pairs exact shingle-set reference, uncapped AND under a
  small ``max_shingle_freq`` cap — every metric is integer-exact or a
  single IEEE division, so the comparison is bit-exact;
- `exact_duplicates` / `deduplicate_exact` vs a normalized-md5 group
  reference;
- `duplicated_spans` vs a sliding-window fingerprint + island-merge
  reference (Lee et al. 2021 semantics);
- `paragraph_dedup` vs a first-corpus-occurrence paragraph keeper;
- `connected_components` vs union-find, through BOTH the bounded
  driver fast path and the distributed star-contraction rounds
  (`driver_max_edges=0`).

Generator whitespace is restricted to space/tab/LF (the tokenizer
contract: Java `\\s` is `[ \\t\\n\\x0B\\f\\r]`, narrower than Python's
Unicode-wide class) and the alphabet to ASCII so `lower()` agrees
across engines.
"""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter

_JAVA_WS = r"[ \t\n\x0B\f\r]+"

_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "the",
    "and", "of", "to", "x9", "q-7", "#tag", "a", "bb", "ccc",
]


# -- corpus generator ---------------------------------------------------------


def _base_doc(rng: random.Random) -> str:
    n = rng.randint(1, 40)
    words = [rng.choice(_VOCAB) for _ in range(n)]
    return " ".join(words)


def _mutate(rng: random.Random, text: str) -> str:
    toks = text.split(" ")
    op = rng.random()
    if op < 0.3 and toks:  # replace a word
        toks[rng.randrange(len(toks))] = rng.choice(_VOCAB)
    elif op < 0.5 and len(toks) > 1:  # delete a word
        del toks[rng.randrange(len(toks))]
    elif op < 0.7:  # insert a word
        toks.insert(rng.randint(0, len(toks)), rng.choice(_VOCAB))
    elif op < 0.85:  # append a suffix (containment shape)
        toks += [rng.choice(_VOCAB) for _ in range(rng.randint(1, 6))]
    else:  # whitespace/case jitter only (exact-dup under normalization)
        out = []
        for t in toks:
            out.append(t.upper() if rng.random() < 0.3 else t)
        return rng.choice([" ", "  ", "\t", " \n"]).join(out) + rng.choice(
            ["", " ", "\n"]
        )
    return " ".join(toks)


def _corpus(rng: random.Random, n_docs: int = 70) -> list[tuple[int, str]]:
    docs: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if docs and r < 0.45:  # near/exact duplicate of a prior doc
            src = rng.choice(docs)
            d = src
            for _ in range(rng.randint(0, 3)):
                d = _mutate(rng, d)
            docs.append(d)
        elif r < 0.52:  # degenerate
            docs.append(rng.choice(["", " ", "a", "a bb", "the the the"]))
        else:
            docs.append(_base_doc(rng))
    return list(enumerate(docs))


# -- pure-Python references of the documented shingle semantics ---------------


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(_JAVA_WS, text) if t]


def _norm(text: str) -> str:
    return re.sub(_JAVA_WS, " ", text).strip(" ").lower()


def _word_shingle_set(text: str, n: int) -> frozenset[str]:
    toks = _tokens(text)
    if len(toks) < n:
        return frozenset()
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _char_shingle_set(text: str, n: int) -> frozenset[str]:
    s = _norm(text)
    if len(s) < n:
        return frozenset()
    return frozenset(s[i : i + n] for i in range(len(s) - n + 1))


def _ref_pairs(
    sets: dict[int, frozenset[str]], cap: int | None = None
) -> dict[tuple[int, int], tuple[int, int, int]]:
    """(a, b) -> (common, union, min_sz) for every id pair sharing a
    shingle (pairs with common == 0 can never appear: candidate
    generation keys on shared shingles).  ``cap`` is the operators'
    ``max_shingle_freq``: shingles in more than ``cap`` docs leave the
    universe before sizes and overlaps are counted.  Built from a
    shingle -> docs inverted index, so the cost is the pair fan-out of
    the shared shingles, not all n^2 pairs."""
    postings: dict[str, list[int]] = {}
    for doc in sorted(sets):
        for sh in sets[doc]:
            postings.setdefault(sh, []).append(doc)
    if cap is not None:
        postings = {sh: ds for sh, ds in postings.items() if len(ds) <= cap}
    sizes: Counter = Counter()
    common: Counter = Counter()
    for ds in postings.values():
        sizes.update(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                common[(a, b)] += 1
    return {
        (a, b): (c, sizes[a] + sizes[b] - c, min(sizes[a], sizes[b]))
        for (a, b), c in common.items()
    }


def _mkdf(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


# -- overlap-pair family ------------------------------------------------------


def test_overlap_pairs_match_reference(spark):
    from topic_store_spark.operators.dedup import (
        char_jaccard_pairs,
        containment_pairs,
        release_pair_caches,
        word_overlap_pairs,
    )

    rng = random.Random(0xDED0)
    docs = _corpus(rng)
    df = _mkdf(spark, docs)
    n = rng.choice([2, 3])
    jn, jd = rng.choice([(1, 2), (3, 5), (7, 10), (8, 10)])
    cn, cd = rng.choice([(3, 4), (9, 10), (1, 1)])
    word_sets = {i: _word_shingle_set(t, n) for i, t in docs}
    caps = (None, 4)

    failures: list[str] = []
    for cap in caps:
        ref = _ref_pairs(word_sets, cap)
        got = {
            (r["a_doc"], r["b_doc"]): r
            for r in word_overlap_pairs(
                df, n=n, jaccard_num=jn, jaccard_den=jd,
                containment_num=cn, containment_den=cd,
                max_shingle_freq=cap,
            ).collect()
        }
        want = {
            k: v
            for k, v in ref.items()
            if v[0] * jd >= jn * v[1] or v[0] * cd >= cn * v[2]
        }
        for k in set(got) | set(want):
            if k not in got or k not in want:
                failures.append(
                    f"word cap={cap} n={n} pair {k}: "
                    f"spark={'present' if k in got else 'MISSING'} "
                    f"ref={'present' if k in want else 'absent'} "
                    f"({ref.get(k)})"
                )
                continue
            common, union, mn = want[k]
            r = got[k]
            exp = dict(
                common=common, union_sz=union, min_sz=mn,
                jaccard=common / union, containment=common / mn,
                jaccard_hit=common * jd >= jn * union,
                containment_hit=common * cd >= cn * mn,
            )
            for col, w in exp.items():
                if r[col] != w:
                    failures.append(
                        f"word cap={cap} pair {k} {col}: "
                        f"spark={r[col]!r} ref={w!r}"
                    )
    assert not failures, "\n".join(failures[:20])

    # containment_pairs: same reference, containment threshold only
    for cap in caps:
        ref = _ref_pairs(word_sets, cap)
        got_c = {
            (r["a_doc"], r["b_doc"]): r
            for r in containment_pairs(
                df, n=n, threshold_num=cn, threshold_den=cd,
                max_shingle_freq=cap,
            ).collect()
        }
        want_c = {k: v for k, v in ref.items() if v[0] * cd >= cn * v[2]}
        assert set(got_c) == set(want_c), (
            f"containment cap={cap}: extra={set(got_c) - set(want_c)} "
            f"missing={set(want_c) - set(got_c)}"
        )
        for k, (common, _union, mn) in want_c.items():
            r = got_c[k]
            assert (r["common"], r["min_sz"], r["containment"]) == (
                common, mn, common / mn,
            ), f"containment cap={cap} pair {k}: {r}"

    # char-shingle Jaccard
    cjn, cjd = rng.choice([(1, 2), (7, 10)])
    cn_gram = rng.choice([4, 5])
    char_sets = {i: _char_shingle_set(t, cn_gram) for i, t in docs}
    for cap in caps:
        cref = _ref_pairs(char_sets, cap)
        got_ch = {
            (r["a_doc"], r["b_doc"]): r
            for r in char_jaccard_pairs(
                df, n=cn_gram, threshold_num=cjn, threshold_den=cjd,
                max_shingle_freq=cap,
            ).collect()
        }
        want_ch = {k: v for k, v in cref.items() if v[0] * cjd >= cjn * v[1]}
        assert set(got_ch) == set(want_ch), (
            f"char cap={cap}: extra={set(got_ch) - set(want_ch)} "
            f"missing={set(want_ch) - set(got_ch)}"
        )
        for k, (common, union, _mn) in want_ch.items():
            r = got_ch[k]
            assert (r["common"], r["union_sz"], r["jaccard"]) == (
                common, union, common / union,
            ), f"char pair {k}: {r}"
    release_pair_caches()


# -- exact dedup --------------------------------------------------------------


def test_exact_dedup_matches_reference(spark):
    from topic_store_spark.operators.dedup import (
        deduplicate_exact,
        exact_duplicates,
    )

    rng = random.Random(0xDED1)
    docs = _corpus(rng)
    df = _mkdf(spark, docs)

    groups: dict[str, list[int]] = {}
    for i, t in docs:
        fp = hashlib.md5(_norm(t).encode("utf-8")).hexdigest()
        groups.setdefault(fp, []).append(i)

    want = {
        fp: (len(ids), min(ids), sorted(ids))
        for fp, ids in groups.items()
        if len(ids) > 1
    }
    got = {
        r["fingerprint"]: (r["n_docs"], r["keep_id"], list(r["doc_ids"]))
        for r in exact_duplicates(df).collect()
    }
    assert got == want

    want_ids = {min(ids) for ids in groups.values()}
    got_ids = {r["doc_id"] for r in deduplicate_exact(df).collect()}
    assert got_ids == want_ids


# -- exact-substring spans ----------------------------------------------------


def test_duplicated_spans_match_reference(spark):
    from topic_store_spark.operators.dedup import duplicated_spans

    rng = random.Random(0xDED2)
    # plant shared phrases so windows actually repeat across docs
    phrases = [_base_doc(rng) for _ in range(6)]
    docs = []
    for i in range(50):
        parts = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.6:
                parts.append(rng.choice(phrases))
            else:
                parts.append(_base_doc(rng))
        docs.append((i, " ".join(parts)))
    window = rng.choice([4, 5, 8])
    min_occ = rng.choice([2, 3])

    fp_count: Counter[str] = Counter()
    doc_wins: dict[int, list[tuple[int, str]]] = {}
    for i, t in docs:
        toks = _tokens(t)
        wins = [
            (p, " ".join(toks[p : p + window]))
            for p in range(len(toks) - window + 1)
        ]
        doc_wins[i] = wins
        fp_count.update(g for _, g in wins)
    dup = {g for g, c in fp_count.items() if c >= min_occ}

    want = set()
    for i, wins in doc_wins.items():
        pos = sorted(p for p, g in wins if g in dup)
        if not pos:
            continue
        start, prev, n_w = pos[0], pos[0], 1
        for p in pos[1:]:
            if p > prev + window:
                want.add((i, start, prev + window, prev + window - start, n_w))
                start, n_w = p, 0
            prev = p
            n_w += 1
        want.add((i, start, prev + window, prev + window - start, n_w))

    got = {
        (r["doc_id"], r["span_start"], r["span_end"],
         r["n_dup_tokens"], r["n_windows"])
        for r in duplicated_spans(
            _mkdf(spark, docs), window=window, min_occurrences=min_occ
        ).collect()
    }
    assert got == want, (
        f"window={window} min_occ={min_occ} "
        f"extra={got - want} missing={want - got}"
    )


# -- paragraph dedup ----------------------------------------------------------


def test_paragraph_dedup_matches_reference(spark):
    from topic_store_spark.operators.dedup import paragraph_dedup

    rng = random.Random(0xDED3)
    pool = [_base_doc(rng) for _ in range(8)] + [" ", "solo line"]
    docs = []
    for i in range(60):
        paras = [
            rng.choice(pool) if rng.random() < 0.7 else _base_doc(rng)
            for _ in range(rng.randint(0, 5))
        ]
        sep = rng.choice(["\n\n", "\n\n\n", "\n\n"])
        docs.append((i, sep.join(paras)))

    first_seen: dict[str, tuple[int, int]] = {}
    split: dict[int, list[str]] = {}
    for i, t in docs:
        paras = [p for p in re.split(r"\n{2,}", t) if p != ""]
        split[i] = paras
        for pos, p in enumerate(paras):
            fp = hashlib.md5(_norm(p).encode("utf-8")).hexdigest()
            if fp not in first_seen or (i, pos) < first_seen[fp]:
                first_seen[fp] = (i, pos)

    want = {}
    for i, _t in docs:
        paras = split[i]
        if not paras:
            continue
        kept = [
            p
            for pos, p in enumerate(paras)
            if first_seen[hashlib.md5(_norm(p).encode("utf-8")).hexdigest()]
            == (i, pos)
        ]
        want[i] = (len(paras), len(kept), "\n\n".join(kept))

    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["clean_text"])
        for r in paragraph_dedup(_mkdf(spark, docs)).collect()
    }
    assert got == want


# -- connected components -----------------------------------------------------


def test_connected_components_match_reference(spark):
    from topic_store_spark.operators.dedup import connected_components

    rng = random.Random(0xDED4)
    nodes = list(range(200))
    edges = []
    # random edges + a long chain (diameter stress for star contraction)
    for _ in range(150):
        edges.append((rng.choice(nodes), rng.choice(nodes)))  # incl. loops
    chain = rng.sample(nodes, 30)
    edges += list(zip(chain, chain[1:]))
    edges += [(b, a) for a, b in rng.sample(edges, 20)]  # reversed dups

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    touched = set()
    for u, v in edges:
        touched.update((u, v))
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in touched}

    pairs = spark.createDataFrame(edges, "a_doc long, b_doc long")
    for max_edges in (1 << 20, 0):  # driver fast path AND star contraction
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                pairs, driver_max_edges=max_edges
            ).collect()
        }
        assert got == want, (
            f"driver_max_edges={max_edges}: "
            f"{ {k: (got.get(k), want.get(k)) for k in set(got) ^ set(want) or set() } }"
        )
