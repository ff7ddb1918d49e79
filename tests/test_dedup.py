"""Near-dup operators — semantic unit tests (brute-force numpy/python
oracles on tiny corpora): connected components, and the phash near-dup
joins with their hot-bucket star guard. Cross-engine value-hash parity
lives in the oracle registry (`__spark_entry__.oracle_sql()`)."""

from __future__ import annotations

import numpy as np

from mapnik_vector_tile_spark.operators import dedup as D


def test_connected_components_chain_and_triangle(spark):
    # chain 1-2-3-4-5 (diameter 4 > one propagation round), triangle
    # 10-11-12, isolated pair (20, 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "doc_a long, doc_b long",
    )
    out = {
        r.doc_id: (r.cluster_rep, r.cluster_size)
        for r in D.connected_components(pairs).collect()
    }
    assert {k for k, v in out.items() if v[0] == 1} == {1, 2, 3, 4, 5}
    assert all(out[k] == (1, 5) for k in (1, 2, 3, 4, 5))
    assert all(out[k] == (10, 3) for k in (10, 11, 12))
    assert all(out[k] == (20, 2) for k in (20, 21))
    assert len(out) == 10


def test_connected_components_random_graphs(spark):
    """Property check vs an independent union-find: random edge lists
    (seeded, bounded) must produce identical (rep, size) labelings."""
    import random

    rng = random.Random(4242)
    for trial in range(5):
        n_nodes = rng.randint(4, 40)
        n_edges = min(rng.randint(1, 60), n_nodes * (n_nodes - 1) // 2)
        edges = set()
        while len(edges) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        parent = list(range(n_nodes))

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expect = {}
        sizes = {}
        for v in touched:
            sizes.setdefault(find(v), 0)
            sizes[find(v)] += 1
        for v in touched:
            expect[v] = (find(v), sizes[find(v)])

        pairs = spark.createDataFrame(
            sorted(edges), "doc_a long, doc_b long"
        )
        got = {
            r.doc_id: (r.cluster_rep, r.cluster_size)
            for r in D.connected_components(pairs).collect()
        }
        assert got == expect, f"trial {trial}"


def test_phash_neardup_lossless_vs_bruteforce(spark):
    """Banded Hamming-LSH == brute force on a random corpus including
    NEGATIVE int64 hashes (shiftrightunsigned banding must treat the
    sign bit as data) and planted near-dup pairs."""
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.dedup import phash_neardup_pairs

    rng = np.random.default_rng(17)
    base = rng.integers(-(2**63), 2**63, size=120, dtype=np.int64)
    rows = [(i, int(base[i])) for i in range(len(base))]
    # planted near-dups: flip 1..6 bits of some bases
    nid = len(base)
    for i in range(0, 40, 4):
        h = int(base[i])
        for b in range(1 + i % 6):
            h ^= 1 << ((i * 13 + b * 7) % 64)
        rows.append((nid, h))
        nid += 1
    pdf = pd.DataFrame(rows, columns=["image_id", "phash"])
    imgs = spark.createDataFrame(pdf, schema="image_id long, phash long")
    got = {
        (r.img_a, r.img_b, r.hamming)
        for r in phash_neardup_pairs(imgs, max_hamming=6).collect()
    }
    want = set()
    hs = {i: h for i, h in rows}
    ids = sorted(hs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[ids[i]] ^ hs[ids[j]]) & (2**64 - 1)).count("1")
            if d <= 6:
                want.add((ids[i], ids[j], d))
    assert got == want and len(want) >= 10
    # the multi-index form (4x16-bit bands + 1-flip probes) is exact
    # for the same contract — identical output on the same corpus,
    # including the negative-hash banding
    from mapnik_vector_tile_spark.operators.dedup import (
        phash_neardup_pairs_mi,
    )

    got_mi = {
        (r.img_a, r.img_b, r.hamming)
        for r in phash_neardup_pairs_mi(imgs, max_hamming=6).collect()
    }
    assert got_mi == want
    # Hamming 7 (the pigeonhole edge for both schemes) stays lossless
    got7 = {
        (r.img_a, r.img_b)
        for r in phash_neardup_pairs_mi(imgs, max_hamming=7).collect()
    }
    want7 = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[ids[i]] ^ hs[ids[j]]) & (2**64 - 1)).count("1")
            if d <= 7:
                want7.add((ids[i], ids[j]))
    assert got7 == want7


def test_phash_mi_hot_bucket_star(spark):
    """The multi-index variant keeps the hub-star degenerate guard."""
    from mapnik_vector_tile_spark.operators.dedup import (
        phash_neardup_pairs_mi,
    )

    n = 60
    imgs = spark.createDataFrame(
        [(i, 0x0F0F0F0F0F0F0F0F) for i in range(n)],
        schema="image_id long, phash long",
    )
    star = phash_neardup_pairs_mi(imgs, hot_bucket_limit=16).collect()
    assert len(star) == n - 1
    assert all(r.img_a == 0 and r.hamming == 0 for r in star)


def test_hot_bucket_star_guard_phash(spark):
    """Adversarial constant-phash corpus: every image lands in the same
    8 band buckets, so the unguarded join is O(m²). With the guard the
    output is the hub star — m-1 pairs, hamming 0, one connected
    component — instead of m(m-1)/2."""
    from mapnik_vector_tile_spark.operators.dedup import phash_neardup_pairs

    n = 60
    imgs = spark.createDataFrame(
        [(i, 0x0F0F0F0F0F0F0F0F) for i in range(n)],
        schema="image_id long, phash long",
    )
    star = phash_neardup_pairs(imgs, hot_bucket_limit=16).collect()
    assert len(star) == n - 1
    assert all(r.img_a == 0 and r.hamming == 0 for r in star)
    # unguarded clique for comparison
    clique = phash_neardup_pairs(imgs, hot_bucket_limit=None).collect()
    assert len(clique) == n * (n - 1) // 2
    # same connected components: the star spans every node
    assert {r.img_b for r in star} == set(range(1, n))


def test_hot_bucket_guard_preserves_normal_output(spark):
    """On a normal corpus no bucket reaches the limit, so guarded and
    unguarded phash near-dup output are identical (the oracle
    contract), for both the banded and the multi-index join."""
    rng = np.random.default_rng(23)
    base = rng.integers(-(2**63), 2**63, size=80, dtype=np.int64)
    rows = [(i, int(h)) for i, h in enumerate(base)]
    # planted near-dups so the compared sets are not empty
    rows += [(100 + i, int(base[i]) ^ (1 << i)) for i in range(10)]
    imgs = spark.createDataFrame(rows, schema="image_id long, phash long")
    for fn in (D.phash_neardup_pairs, D.phash_neardup_pairs_mi):
        guarded = {tuple(r) for r in fn(imgs).collect()}
        unguarded = {
            tuple(r) for r in fn(imgs, hot_bucket_limit=None).collect()
        }
        assert guarded == unguarded and len(guarded) >= 10
