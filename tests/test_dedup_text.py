"""Near-dup and similarity operators — semantic unit tests
(brute-force numpy/python oracles on tiny corpora): embedding top-k,
quantization and PCA, connected components, and the phash near-dup
joins with their hot-bucket star guard. Cross-engine value-hash parity
lives in the oracle registry via the driver gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark.operators import dedup as D
from mapnik_vector_tile_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 8))
    vecs = list(base) + [base[0] + 1e-6]  # vec 6 ~ vec 0
    pdf = pd.DataFrame(
        {
            "vec_id": range(7),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
        }
    )
    return spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    ), vecs


def test_brute_force_topk_matches_numpy(emb):
    df, vecs = emb
    out = {}
    for r in SIM.brute_force_topk(df, k=3).collect():
        out.setdefault(r.vec_id, []).append((r.rnk, r.nbr))
    V = np.stack([np.asarray(v, dtype=np.float32).astype(np.float64) for v in vecs])
    for qi in range(len(vecs)):
        cos = []
        for ti in range(len(vecs)):
            if ti == qi:
                continue
            c = V[qi] @ V[ti] / (np.linalg.norm(V[qi]) * np.linalg.norm(V[ti]))
            cos.append((round(c, 9), ti))
        top = sorted(cos, key=lambda x: (-x[0], x[1]))[:3]
        want_nbrs = [t for _, t in top]
        got = [n for _, n in sorted(out[qi])]
        assert got == want_nbrs, (qi, got, want_nbrs)


def test_neardup_finds_shifted_copy(emb):
    df, _ = emb
    pairs = {(r.vec_a, r.vec_b) for r in SIM.embedding_neardup_pairs(df, 0.999).collect()}
    assert (0, 6) in pairs


def test_lsh_recall_reasonable(emb):
    df, _ = emb
    exact = {(r.vec_id, r.nbr) for r in SIM.brute_force_topk(df, k=1).collect()}
    approx = {(r.vec_id, r.nbr) for r in SIM.lsh_bucketed_topk(df, k=1).collect()}
    # identical-ish vectors land in the same bucket -> their NN is found
    assert (0, 6) in approx and (6, 0) in approx
    assert len(approx & exact) >= 2


def test_ivf_topk_near_identical_found(emb):
    """IVF: near-identical vectors (0 and its shifted copy 6) get the
    same centroid argmax -> each finds the other; every reported rank
    list is a prefix-correct subset of the in-candidate exact order."""
    df, _ = emb
    out = SIM.ivf_topk(df, k=3, n_cells=4, nprobe=2).collect()
    approx = {(r.vec_id, r.nbr) for r in out}
    assert (0, 6) in approx and (6, 0) in approx
    # ranks are 1..m contiguous per query (window correctness)
    by_q = {}
    for r in out:
        by_q.setdefault(r.vec_id, []).append(r.rnk)
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


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


# --- T20 embedding int8 scalar quantization ---------------------------------------


def test_quantize_embeddings_bounds_and_plan(spark):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.similarity import (
        quantize_embeddings,
    )

    rng = np.random.default_rng(5)
    vecs = [rng.normal(size=16).astype(np.float32).tolist() for _ in range(50)]
    vecs.append([0.0] * 16)  # zero vector: scale 0, all-zero q
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    emb = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>"
    )
    out = quantize_embeddings(emb).collect()
    for r in out:
        q = np.array(r.q)
        v = np.array(r.embedding, dtype=np.float64)
        assert q.min() >= -127 and q.max() <= 127
        if r.vec_id == len(vecs) - 1:
            assert r.scale == 0.0 and not q.any()
            continue
        # dequant error bound: |v - q*scale| <= scale/2 (+1ulp slack)
        err = np.abs(v - q * r.scale)
        assert err.max() <= r.scale / 2 * (1 + 1e-12)
        # the absmax dimension hits +-127 exactly
        assert 127 in np.abs(q)
    # scale story: pure Column math — no Python UDF eval, no exchange
    plan = quantize_embeddings(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_quantized_topk_recall_vs_float(spark):
    """Cosine is invariant to the per-vector scale, so int8-quantized
    brute-force top-k should recover nearly all float top-k neighbors
    — recall@5 >= 0.9 on the driver corpus (the practical contract of
    serving ANN from quantized vectors)."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qd = quantize_embeddings(emb).select(
        "vec_id",
        F.transform("q", lambda v: v.cast("float")).alias("embedding"),
        "label",
    )
    gold = {
        (r.vec_id, r.nbr) for r in brute_force_topk(emb, k=5).collect()
    }
    got = {
        (r.vec_id, r.nbr) for r in brute_force_topk(qd, k=5).collect()
    }
    recall = len(gold & got) / len(gold)
    assert recall >= 0.9, recall


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

def test_embedding_gram_exact(spark):
    import numpy as np

    from mapnik_vector_tile_spark.operators.similarity import (
        embedding_gram,
        quantize_embeddings,
    )

    rows = [
        (1, [1.0, -2.0, 3.0]),
        (2, [0.5, 0.25, -1.0]),
        (3, [0.0, 0.0, 0.0]),  # zero vector quantizes to zeros
        (4, [-4.0, 4.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # expected: quantize each row with the operator itself (already
    # oracle-gated), then dense numpy Q^T Q
    q = np.array(
        [
            r["q"]
            for r in quantize_embeddings(df).orderBy("vec_id").collect()
        ],
        dtype=np.int64,
    )
    want = q.T @ q
    out = {(r["i"], r["j"]): r["g"] for r in embedding_gram(df).collect()}
    assert len(out) == 6  # 3*(3+1)/2 upper triangle
    for (i, j), g in out.items():
        assert i <= j and g == want[i, j], ((i, j), g, want[i, j])


def test_twostage_topk_funnel(spark):
    from mapnik_vector_tile_spark.operators.similarity import twostage_topk

    # 6 vectors engineered into one LSH bucket is fragile; instead run
    # on a tiny corpus and check the funnel contracts hold wherever
    # candidates exist
    import numpy as np

    rng = [
        (i, [float((i * 7 + d * 3) % 13 - 6) for d in range(64)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    out = twostage_topk(df, k=3, m=5).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["vec_id"], []).append(r)
    for q, rows in per_q.items():
        assert len(rows) <= 3
        rows.sort(key=lambda r: r["rnk"])
        # ranks contiguous from 1, full scores non-increasing
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        fulls = [r["c_full"] for r in rows]
        assert fulls == sorted(fulls, reverse=True)
        # no self-match
        assert all(r["nbr"] != q for r in rows)


def test_mmr_diversity_beats_pure_relevance(spark):
    from mapnik_vector_tile_spark.operators.similarity import mmr_select

    # candidates: 1 (rel 100), 2 (rel 99, near-dup of 1), 3 (rel 50,
    # diverse). Pure relevance picks (1, 2); MMR picks (1, 3) because
    # 2's similarity to 1 crushes its marginal score
    cands = spark.createDataFrame(
        [(0, 1, 100), (0, 2, 99), (0, 3, 50)],
        "qid long, cid long, rel long",
    )
    sims = spark.createDataFrame(
        [(0, 1, 2, 95), (0, 1, 3, 5), (0, 2, 3, 5)],
        "qid long, ca long, cb long, sim long",
    )
    out = sorted(
        mmr_select(cands, sims, k=2).collect(), key=lambda r: r["rnk"]
    )
    assert [(r["cid"], r["rnk"]) for r in out] == [(1, 1), (3, 2)]
    assert out[0]["mmr"] == 100          # first pick = raw relevance
    assert out[1]["mmr"] == 50 - 5       # rel - maxsim vs picked


def test_pca_power_matches_float_eigenvector(spark):
    """T43: the quantized power iterate aligns with numpy's float top
    eigenvector on a well-conditioned corpus (cosine >= 0.99), and
    the Rayleigh ratio approximates the top eigenvalue of the
    rescaled Gram."""
    from mapnik_vector_tile_spark.operators.similarity import (
        PCA_SCALE,
        pca_power,
    )

    rng = np.random.default_rng(9)
    d = 16
    # anisotropic cloud: dominant direction u0
    u0 = rng.normal(size=d)
    u0 /= np.linalg.norm(u0)
    X = rng.normal(size=(300, d)) + 8.0 * np.outer(
        rng.normal(size=300), u0
    )
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": range(len(X)),
            "embedding": [r.astype(np.float32).tolist() for r in X],
        }),
        "vec_id long, embedding array<float>",
    )
    out = pca_power(df).collect()[0]
    assert out.d == d and out.lam_den > 0
    # reconstruct v from its pinned hash? no — recompute directly:
    from mapnik_vector_tile_spark.operators.similarity import (
        embedding_gram,
    )

    rows = embedding_gram(df).collect()
    G = np.zeros((d, d))
    for r in rows:
        G[r["i"], r["j"]] = G[r["j"], r["i"]] = r["g"]
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, -1]
    # replay the integer iteration to get v
    gmax = np.abs(G).max()
    gdiv = int(gmax) // PCA_SCALE + 1
    Gn = np.sign(G) * (np.abs(G).astype(np.int64) // gdiv)
    v = np.full(d, PCA_SCALE, dtype=object)
    for _ in range(24):
        w = Gn @ v
        m = max(abs(int(x)) for x in w)
        if m == 0:
            break
        v = np.array(
            [
                (1 if int(x) >= 0 else -1)
                * ((abs(int(x)) * PCA_SCALE) // m)
                for x in w
            ],
            dtype=object,
        )
    vf = v.astype(np.float64)
    cos = abs(vf @ top) / (np.linalg.norm(vf) * np.linalg.norm(top))
    assert cos >= 0.99, cos
    # the operator's hash equals the replay's
    assert out.vhash == int(sum((i + 1) * int(v[i]) for i in range(d)))


