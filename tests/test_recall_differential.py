"""Brute-force recall differentials for the banding claims (VERDICT r4
#4): the pigeonhole argument (hamming<=3 => >=1 shared 16-bit band) and
the multi-band LSH recall contract are pinned by TEST against all-pairs
Python computations, not prose.

Reference behavior: gjtorikian/selma has no near-dup ops; these pin the
pipeline-added scale operators' own documented contracts
(textops.simhash_near_dup, textops.near_dup_verified docstrings).
"""

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import SparkSession

from selma_spark.spark import textops
from selma_spark.spark.textops import MINHASH_SALTS


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("selma-recall-differential")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    return {int(r["doc_id"]): r["text"] for r in rows}


# --- pure-Python twins of the Spark expressions -----------------------------

def _py_simhash(text: str) -> int:
    """Unsigned 64-bit twin of _SIMHASH64_EXPR: bit j is the majority
    vote of bit (j % 4) of hex digit (j // 4 + 1) of md5(token)."""
    toks = text.split(" ")
    counts = [0] * 64
    for t in toks:
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        for j in range(64):
            counts[j] += (int(h[j // 4], 16) >> (j % 4)) & 1
    sig = 0
    for j in range(64):
        if 2 * counts[j] > len(toks):
            sig |= 1 << j
    return sig


def _py_shingles(text: str) -> frozenset:
    toks = text.split(" ")
    if len(toks) >= 3:
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
    return frozenset({" ".join(toks)})


def _py_minhash(shingles: frozenset) -> tuple:
    return tuple(
        min(
            hashlib.md5((salt + s).encode("utf-8")).hexdigest()
            for s in shingles
        )
        for salt in MINHASH_SALTS
    )


def _kept_bands(mh: dict) -> set:
    """(band_id, band_val) buckets holding at most LSH_MAX_BAND_SIZE docs
    — the buckets textops.lsh_bands keeps."""
    occupancy: dict[tuple, int] = {}
    for sig in mh.values():
        for band_id, val in enumerate(sig):
            key = (band_id, val)
            occupancy[key] = occupancy.get(key, 0) + 1
    return {
        key for key, n in occupancy.items() if n <= textops.LSH_MAX_BAND_SIZE
    }


def _round_half_up_9(x: float) -> Decimal:
    """Twin of Spark's round(double, 9): HALF_UP on the shortest decimal
    representation of the double."""
    return Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


def _round_half_up_4(num: int, den: int) -> Decimal:
    """Spark's round() is HALF_UP; Python's round() is banker's — use
    Decimal so borderline Jaccards can't diverge between the twins."""
    return (Decimal(num) / Decimal(den)).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP
    )


# --- simhash: band join returns EXACTLY the hamming<=3 pairs ----------------

def test_simhash_near_dup_equals_brute_force_hamming(spark, corpus):
    """All-pairs brute force: simhash_near_dup must return EXACTLY the
    pairs within hamming 3 whose shared band survives the bucket cap —
    and on this corpus the cap drops nothing, so the result IS the full
    hamming<=3 pair set (the pigeonhole claim, pinned end-to-end)."""
    sigs = {d: _py_simhash(t) for d, t in corpus.items()}

    # kept (band_id, band_val) buckets under the cap
    occupancy: dict[tuple, int] = {}
    for sig in sigs.values():
        for k in range(4):
            key = (k, (sig >> (16 * k)) & 0xFFFF)
            occupancy[key] = occupancy.get(key, 0) + 1
    kept = {
        key for key, n in occupancy.items()
        if n <= textops.SIMHASH_MAX_BAND_SIZE
    }

    brute = set()
    brute_with_kept_band = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if (sigs[a] ^ sigs[b]).bit_count() <= 3:
                brute.add((a, b))
                if any(
                    (k, (sigs[a] >> (16 * k)) & 0xFFFF) in kept
                    and ((sigs[a] >> (16 * k)) & 0xFFFF)
                    == ((sigs[b] >> (16 * k)) & 0xFFFF)
                    for k in range(4)
                ):
                    brute_with_kept_band.add((a, b))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in textops.simhash_near_dup(docs).collect()
    }
    assert got == brute_with_kept_band
    # cap-dropped pairs asserted separately: on this corpus no hamming<=3
    # pair loses its only shared band to the cap, so the join is EXACT
    assert brute_with_kept_band == brute
    assert got, "vacuous corpus: no hamming<=3 pairs to differentiate"


def test_simhash_cap_drop_is_exact_dup_territory(spark):
    """A 150-identical-doc mega-cluster saturates every band bucket
    (> SIMHASH_MAX_BAND_SIZE = 100), so simhash_near_dup reports NO pairs for it —
    and brute force confirms every dropped pair is hamming 0, i.e.
    exact-dup territory (the documented cap contract)."""
    n = 150
    rows = [(i, "the same exact boilerplate text repeated verbatim")
            for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = textops.simhash_near_dup(docs).collect()
    assert got == []
    sigs = {d: _py_simhash(t) for d, t in rows}
    dropped = [
        (a, b)
        for i, a in enumerate(sorted(sigs))
        for b in sorted(sigs)[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= 3
    ]
    assert len(dropped) == n * (n - 1) // 2
    assert all((sigs[a] ^ sigs[b]).bit_count() == 0 for a, b in dropped)


def test_pigeonhole_shared_band_property(corpus):
    """The pure pigeonhole invariant on real signatures: every pair
    within hamming 3 agrees exactly on >= 1 of the 4 16-bit bands."""
    sigs = [_py_simhash(t) for t in corpus.values()]
    checked = 0
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            if (a ^ b).bit_count() <= 3:
                checked += 1
                assert any(
                    ((a >> (16 * k)) & 0xFFFF) == ((b >> (16 * k)) & 0xFFFF)
                    for k in range(4)
                )
    assert checked > 0


# --- clustering: star contraction vs brute-force components -----------------

def _chain_docs(spark):
    """Sliding 21-token windows over one token stream, doc_ids scrambled:
    a long-chain candidate graph."""
    stream = [f"w{j}" for j in range(120)]
    rows = [(i, " ".join(stream[i : i + 21])) for i in range(100)]
    # 37 is coprime to 100 -> a deterministic id scramble, so the min id
    # lands mid-chain and label placement is adversarial
    docs_rows = [((i * 37) % 100, txt) for i, (_, txt) in enumerate(rows)]
    return spark.createDataFrame(docs_rows, "doc_id bigint, text string")


def test_near_dup_clusters_matches_brute_components_on_chain_graph(spark):
    """Adversarial long-chain candidate graph (sliding 21-token windows
    over one token stream, doc_ids scrambled): the r5 soak showed plain
    min-label propagation needs O(diameter) rounds on exactly this
    shape, which is why near_dup_clusters now runs alternating
    large-star/small-star (O(log^2 n) rounds). This pins (a) convergence
    within the CLUSTER_MAX_ROUNDS = 20 budget on a deep chain and (b) cluster
    labels == brute-force connected components of the ACTUAL candidate
    pair graph, computed in Python."""
    from selma_spark.spark import textops as T

    docs = _chain_docs(spark)

    pairs = [
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in T.near_dup_pairs(docs).collect()
    ]
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # brute components + diameter of the largest (the chain must be deep
    # enough that an O(diameter) algorithm would be stressed)
    seen: set = set()
    comps = []
    for v in adj:
        if v in seen:
            continue
        stack, comp = [v], []
        seen.add(v)
        while stack:
            u = stack.pop()
            comp.append(u)
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        comps.append(comp)
    big = max(comps, key=len)

    def _far(s):
        dist = {s: 0}
        order = [s]
        for u in order:
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    order.append(w)
        far = max(dist, key=dist.get)
        return far, dist[far]

    f1, _ = _far(big[0])
    _, diameter = _far(f1)
    assert len(big) >= 50 and diameter >= 10, (len(big), diameter)

    expected = {}
    for comp in comps:
        mn = min(comp)
        for u in comp:
            expected[u] = mn
    got = {
        int(r["doc_id"]): int(r["cluster_id"])
        for r in T.near_dup_clusters(docs).collect()
    }
    assert got == expected


# --- LSH + exact verify: recall vs brute-force Jaccard ----------------------

def test_near_dup_verified_equals_brute_force_jaccard(spark, corpus):
    """All-pairs brute force: near_dup_verified must return EXACTLY the
    pairs with rounded Jaccard >= t that share >= 1 kept minhash band —
    i.e. the LSH candidate stage loses nothing the banding scheme
    promises, the cap's drops are accounted for, and the exact-verify
    stage (with its size-ratio prefilter) filters to true Jaccard."""
    t = Decimal(repr(textops.NEAR_DUP_JACCARD))
    shingles = {d: _py_shingles(txt) for d, txt in corpus.items()}
    mh = {d: _py_minhash(s) for d, s in shingles.items()}
    kept = _kept_bands(mh)

    expected = set()
    candidates = 0
    ids = sorted(shingles)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shares_kept = any(
                mh[a][k] == mh[b][k] and (k, mh[a][k]) in kept
                for k in range(4)
            )
            if not shares_kept:
                continue
            candidates += 1
            inter = len(shingles[a] & shingles[b])
            union = len(shingles[a] | shingles[b])
            if _round_half_up_4(inter, union) >= t:
                expected.add((a, b))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (int(r["doc_a"]), int(r["doc_b"]))
        for r in textops.near_dup_verified(docs).collect()
    }
    assert got == expected
    assert got, "vacuous corpus: no J>=0.5 banded pairs to differentiate"
    # the candidate stage really is doing work: brute-force candidates
    # far exceed survivors, else the verify stage is vacuous here
    assert candidates > len(expected)


def test_near_dup_pairs_equals_brute_force_shared_kept_band(spark, corpus):
    """The LSH candidate stage alone: near_dup_pairs returns EXACTLY the
    pairs agreeing on >= 1 of the 4 minhash bands whose bucket holds at
    most LSH_MAX_BAND_SIZE docs, each pair once."""
    mh = {d: _py_minhash(_py_shingles(t)) for d, t in corpus.items()}
    kept = _kept_bands(mh)
    ids = sorted(mh)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(mh[a][k] == mh[b][k] and (k, mh[a][k]) in kept
               for k in range(4))
    }
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = textops.near_dup_pairs(docs).collect()
    got = [(int(r["doc_a"]), int(r["doc_b"])) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == expected
    assert got == sorted(got)
    assert got, "vacuous corpus: no banded candidate pairs"


def test_near_dup_clusters_raises_when_rounds_run_out(spark, monkeypatch):
    """A star-round budget too small for the graph fails loudly instead
    of returning a partially-contracted edge set (which would split a
    component into several clusters)."""
    monkeypatch.setattr(textops, "CLUSTER_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge within"):
        textops.near_dup_clusters(_chain_docs(spark))


# --- quantizers: nearest-codeword assignment vs brute force -----------------

@pytest.fixture(scope="module")
def embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {int(r["vec_id"]): [float(v) for v in r["embedding"]]
            for r in emb.collect()}
    return emb, vecs


def test_ivf_assign_equals_brute_force_nearest_centroid(embeddings):
    """ivf_assign: every vector goes to the seed centroid (vec_id < 16)
    of largest 9-decimal cosine, ties to the smallest centroid id."""
    from selma_spark.spark import simsearch

    emb, vecs = embeddings

    def cosine(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    cents = {c: vecs[c] for c in range(16)}
    expected = {
        v: min(cents, key=lambda c: (-_round_half_up_9(cosine(e, cents[c])), c))
        for v, e in vecs.items()
    }
    got = {int(r["vec_id"]): int(r["cid"])
           for r in simsearch.ivf_assign(emb).collect()}
    assert got == expected
    assert len(set(got.values())) > 1, "vacuous: one cell holds everything"


def test_pq_codes_equal_brute_force_nearest_subcodeword(embeddings):
    """pq_codes: per vector and per 16-dim subspace, the codebook entry
    (vec_id < 16) of least 9-decimal squared L2, ties to the smallest
    id."""
    from selma_spark.spark import simsearch

    emb, vecs = embeddings
    m, sub, k = simsearch.PQ_M, simsearch.PQ_SUBDIM, simsearch.PQ_K

    def l2sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    expected = {}
    for v, e in vecs.items():
        expected[v] = tuple(
            min(range(k), key=lambda c: (
                _round_half_up_9(l2sq(e[j * sub:(j + 1) * sub],
                                      vecs[c][j * sub:(j + 1) * sub])), c))
            for j in range(m)
        )
    rows = simsearch.pq_codes(emb).collect()
    got = {int(r["vec_id"]): tuple(int(r[f"code{j}"]) for j in range(m))
           for r in rows}
    assert got == expected
    assert [int(r["vec_id"]) for r in rows] == sorted(vecs)
    # every codebook entry encodes itself
    assert all(got[c] == (c,) * m for c in range(k))
