"""Differential fuzzer for the HASH-SKETCH dedup family — MinHash+LSH,
SimHash, and quantized-cosine embedding pairs.  Unlike typical LSH
testing (recall floors over random trials), every one of these
operators is built from deterministic md5-derived constants and exact
integer/IEEE arithmetic, so a pure-Python reference reproduces the
EXACT candidate sets and verified outputs — candidate generation,
banding, Hamming screens, thresholds, and the reported metric values
are all compared bit-for-bit:

- `minhash_lsh_pairs`: 28-bit md5 shingle keys -> `(a*x+b) mod 2^31-1`
  permutation minima -> band-key collisions -> exact-Jaccard verify;
- `simhash_pairs`: per-token md5 hex-digit parities -> majority-vote
  packed long -> band-slice collisions -> `popcount(a^b)` screen,
  intra-group (identical signature) pairs included;
- `embedding_dup_pairs` (brute) and `embedding_dup_pairs_lsh`
  (hyperplane-bucketed): round-half-up x1000 quantization, exact
  integer dot/norm threshold in DECIMAL, fold-order-faithful
  hyperplane projections.

Shared corpus generator: tests/test_dedup_fuzz (near-duplicate seeded
docs, ASCII + space/tab/LF whitespace per the tokenizer contract).
"""

from __future__ import annotations

import hashlib
import math
import random

from tests.test_dedup_fuzz import _corpus, _mkdf, _tokens, _word_shingle_set

_M31 = (1 << 31) - 1


# -- minhash ------------------------------------------------------------------


def _mix_constants(k: int) -> list[tuple[int, int]]:
    out = []
    for i in range(k):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:7], 16)
        out.append(((a % _M31) or 1, b % _M31))
    return out


def test_minhash_lsh_matches_reference(spark):
    from topic_store_spark.operators.dedup import (
        minhash_lsh_pairs,
        pair_cache_scope,
    )

    rng = random.Random(0x314A)
    docs = _corpus(rng)
    n = rng.choice([2, 3])
    num_perm = 12
    bands = rng.choice([3, 4, 6])
    tn, td = rng.choice([(1, 2), (7, 10)])
    rows = num_perm // bands
    consts = _mix_constants(num_perm)

    sets = {i: _word_shingle_set(t, n) for i, t in docs}
    sets = {i: s for i, s in sets.items() if s}  # empty sets never band
    sigs = {}
    for i, shs in sets.items():
        keys = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in shs]
        sigs[i] = [min((a * x + b) % _M31 for x in keys) for a, b in consts]
    buckets: dict[str, set[int]] = {}
    for i, sig in sigs.items():
        for b in range(bands):
            key = f"{b}|" + ",".join(
                str(sig[b * rows + r]) for r in range(rows)
            )
            buckets.setdefault(key, set()).add(i)
    cands = {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }
    want = {}
    for a, b in cands:
        common = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - common
        if common * td >= tn * union:
            want[(a, b)] = (common, union, common / union)

    # the operator pins its shingle arrays; the scope releases them
    with pair_cache_scope():
        got = {
            (r["a_doc"], r["b_doc"]): (r["common"], r["union_sz"], r["jaccard"])
            for r in minhash_lsh_pairs(
                _mkdf(spark, docs), n=n, num_perm=num_perm, bands=bands,
                threshold_num=tn, threshold_den=td,
            ).collect()
        }
    assert got == want, (
        f"n={n} bands={bands} t={tn}/{td}: "
        f"extra={set(got) - set(want)} missing={set(want) - set(got)} "
        f"diff={ {k: (got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]} }"
    )


# -- simhash ------------------------------------------------------------------


def _simhash_long(toks: list[str], bits: int) -> int:
    n = len(toks)
    counts = [0] * bits
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for i in range(bits):
            counts[i] += int(h[i], 16) & 1
    return sum(1 << i for i in range(bits) if counts[i] * 2 > n)


def test_simhash_matches_reference(spark):
    from topic_store_spark.operators.dedup import simhash_pairs

    rng = random.Random(0x51AA)
    docs = _corpus(rng)
    bits, band_bits = 32, rng.choice([4, 8])
    max_h = rng.choice([2, 3, 5])

    sims = {i: _simhash_long(_tokens(t), bits) for i, t in docs}
    groups: dict[int, list[int]] = {}
    for i, s in sims.items():
        groups.setdefault(s, []).append(i)

    mask = (1 << band_bits) - 1
    def band_keys(s: int) -> set[int]:
        return {
            b * (mask + 1) + ((s >> (b * band_bits)) & mask)
            for b in range(bits // band_bits)
        }

    want: dict[tuple[int, int], int] = {}
    sim_list = sorted(groups)
    for x, sa in enumerate(sim_list):
        for sb in sim_list[x + 1 :]:
            ham = bin(sa ^ sb).count("1")
            if ham > max_h or not (band_keys(sa) & band_keys(sb)):
                continue
            for da in groups[sa]:
                for db in groups[sb]:
                    want[(min(da, db), max(da, db))] = ham
    for members in groups.values():
        for i, da in enumerate(members):
            for db in members[i + 1 :]:
                want[(min(da, db), max(da, db))] = 0

    try:
        got_rows = simhash_pairs(
            _mkdf(spark, docs), bits=bits, band_bits=band_bits,
            max_hamming=max_h,
        ).collect()
        got = {(r["a_doc"], r["b_doc"]): r["hamming"] for r in got_rows}
        assert len(got_rows) == len(got), "duplicate pair rows"
        assert got == want, (
            f"band_bits={band_bits} max_h={max_h}: "
            f"extra={set(got) - set(want)} missing={set(want) - set(got)}"
        )
    finally:
        spark.catalog.clearCache()


# -- embedding cosine pairs ---------------------------------------------------


def _round_half_up(x: float) -> int:
    scaled = x * 1000
    return math.floor(scaled + 0.5) if scaled >= 0 else math.ceil(scaled - 0.5)


def _hyperplanes(planes: int, dim: int) -> list[list[float]]:
    return [
        [
            int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:4], 16) / 65536.0
            - 0.5
            for i in range(dim)
        ]
        for p in range(planes)
    ]


def test_embedding_dup_pairs_match_reference(spark):
    from topic_store_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_lsh,
    )

    rng = random.Random(0xE3BD)
    dim, planes = 8, 4
    base = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(25)
    ]
    vecs = []
    for i in range(90):
        if rng.random() < 0.5:
            src = rng.choice(base)
            v = [x + rng.uniform(-0.02, 0.02) for x in src]
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        vecs.append((i, v))
    tn, td = rng.choice([(95, 100), (8, 10)])

    qv = {i: [_round_half_up(x) for x in v] for i, v in vecs}
    nrm = {i: sum(c * c for c in q) for i, q in qv.items()}
    ws = _hyperplanes(planes, dim)

    def bucket(v: list[float]) -> str:
        out = []
        for p in range(planes):
            acc = 0.0
            for x, w in zip(v, ws[p]):
                acc += x * w
            out.append("1" if acc >= 0 else "0")
        return "".join(out)

    def passes(a: int, b: int):
        dot = sum(x * y for x, y in zip(qv[a], qv[b]))
        if dot <= 0 or dot * dot * td * td < nrm[a] * nrm[b] * tn * tn:
            return None
        return dot / math.sqrt(nrm[a] * nrm[b])

    want_brute = {}
    for a, _ in vecs:
        for b, _ in vecs:
            if a < b and (c := passes(a, b)) is not None:
                want_brute[(a, b)] = c
    bk = {i: bucket(v) for i, v in vecs}
    want_lsh = {k: c for k, c in want_brute.items() if bk[k[0]] == bk[k[1]]}

    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    got_brute = {
        (r["a_id"], r["b_id"]): r["cosine_q"]
        for r in embedding_dup_pairs(
            df, threshold_num=tn, threshold_den=td
        ).collect()
    }
    assert got_brute == want_brute, (
        f"brute t={tn}/{td}: extra={set(got_brute) - set(want_brute)} "
        f"missing={set(want_brute) - set(got_brute)}"
    )
    got_lsh = {
        (r["a_id"], r["b_id"]): r["cosine_q"]
        for r in embedding_dup_pairs_lsh(
            df, threshold_num=tn, threshold_den=td, planes=planes, dim=dim
        ).collect()
    }
    assert got_lsh == want_lsh, (
        f"lsh t={tn}/{td}: extra={set(got_lsh) - set(want_lsh)} "
        f"missing={set(want_lsh) - set(got_lsh)}"
    )
