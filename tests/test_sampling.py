"""operators.sampling — deterministic split / stratified / balanced-k.

The oracle pairs (q_train_split, q_stratified_sample,
q_balanced_sample) gate cross-engine bit-parity; these tests pin the
operator-level CONTRACTS: partition totality, per-stratum exactness,
and rerun determinism.
"""

import numpy as np
import pytest

from tests.conftest import SF_DIR

from mapnik_vector_tile_spark.operators import sampling as SMP
from mapnik_vector_tile_spark.sources.synth import splitmix64


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_sample_hash_matches_numpy(spark, docs):
    rows = SMP.with_sample_hash(docs).select("doc_id", "hord").collect()
    ids = np.array([r.doc_id for r in rows], dtype=np.uint64)
    expect = (splitmix64(ids) >> np.uint64(11)).astype(np.int64)
    got = np.array([r.hord for r in rows], dtype=np.int64)
    assert (got == expect).all()
    assert (got >= 0).all()  # 53-bit: sign-safe in every engine


def test_split_is_total_and_deterministic(spark, docs):
    out = SMP.assign_split(docs).select("doc_id", "split")
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in out.collect()}
    assert a == b
    assert len(a) == docs.count()  # every row gets exactly one split
    assert set(a.values()) <= {"train", "val", "test"}
    # 80/10/10 thresholds: train must dominate on any non-tiny corpus
    n = len(a)
    n_train = sum(1 for s in a.values() if s == "train")
    assert 0.6 * n < n_train < 0.95 * n


def test_stratified_sample_is_a_subset_with_per_stratum_rates(spark, docs):
    kept = SMP.stratified_sample(docs).select("doc_id", "lang", "hord").collect()
    base = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    for r in kept:
        assert base[r.doc_id] == r.lang
        rate = SMP.STRATA_RATES[r.lang]
        assert r.hord % SMP.BUCKETS < rate
    # and nothing below-threshold was dropped: recompute keep-set locally
    ids = np.array(sorted(base), dtype=np.uint64)
    hord = (splitmix64(ids) >> np.uint64(11)).astype(np.int64)
    expect = {
        int(i)
        for i, h in zip(ids, hord)
        if h % SMP.BUCKETS < SMP.STRATA_RATES[base[int(i)]]
    }
    assert {r.doc_id for r in kept} == expect


def test_balanced_topk_exact_k_per_stratum(spark, docs):
    k = 7
    out = SMP.balanced_topk(docs, k=k).select("lang", "doc_id", "rnk").collect()
    sizes = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    per = {}
    for r in out:
        per.setdefault(r.lang, []).append(r.rnk)
    assert set(per) == set(sizes)
    for lang, rnks in per.items():
        assert sorted(rnks) == list(range(1, min(k, sizes[lang]) + 1))
    # deterministic across runs
    again = {(r.lang, r.doc_id, r.rnk) for r in SMP.balanced_topk(docs, k=k).select("lang", "doc_id", "rnk").collect()}
    assert {(r.lang, r.doc_id, r.rnk) for r in out} == again


def test_ar_bucket_batches_invariants(spark):
    """Nearest-bucket vs a Fraction-exact brute force, fixed batch
    sizes for full batches, and shard-bounded packing."""
    from fractions import Fraction

    from mapnik_vector_tile_spark.operators.sampling import (
        AR_BUCKETS,
        ar_bucket_batches,
    )
    from mapnik_vector_tile_spark.sources.synth import images_df

    B, S = 8, 4
    rows = ar_bucket_batches(
        images_df(spark, 300, with_bytes=False), batch_size=B, n_shards=S
    ).collect()
    assert len(rows) == 300
    groups = {}
    for r in rows:
        ar = Fraction(r.w, r.h)
        errs = [
            (abs(ar - Fraction(n, d)), i)
            for i, (n, d) in enumerate(AR_BUCKETS)
        ]
        best = min(errs)[1]
        assert r.bucket == best, (r.w, r.h, r.bucket, best)
        assert (r.ratio_n, r.ratio_d) == AR_BUCKETS[r.bucket]
        assert 0 <= r.shard < S
        groups.setdefault((r.bucket, r.shard), []).append(r)
    for rs in groups.values():
        rs.sort(key=lambda r: r.image_id)
        by_batch = {}
        for r in rs:
            by_batch.setdefault(r.batch_id, []).append(r)
        n_full = len(rs) // B
        for bid, members in by_batch.items():
            if bid < n_full:
                assert len(members) == B
                assert all(m.is_full for m in members)
            else:
                assert len(members) == len(rs) % B
                assert not any(m.is_full for m in members)


def test_spatial_block_split_no_leakage(spark):
    """T17d block split: (1) every row of a block gets ONE split —
    train/test never share a cell; (2) the block coin matches
    splitmix64(cell_id) exactly; (3) nearby points (same z6 cell)
    always co-assign, the anti-leak property a row-level split lacks."""
    import pyspark.sql.functions as F

    from mapnik_vector_tile_spark.functions import tilemath as tm

    n = 5000
    ids = spark.range(n).select(F.col("id"))
    # deterministic world-spread mercator points (point_cte arithmetic)
    k = F.col("id")
    mx = (((k * 2654435761) % 4294967296) / F.lit(float(2**32))) * F.lit(
        2 * tm.W
    ) - F.lit(tm.W)
    my = (
        ((k * 1103515245 + 12345) % 4294967296) / F.lit(float(2**32))
    ) * F.lit(2 * tm.W) - F.lit(tm.W)
    pts = ids.select("id", mx.alias("mx"), my.alias("my"))
    out = SMP.spatial_block_split(pts, z=6).collect()

    by_block: dict = {}
    for r in out:
        by_block.setdefault(r.block, set()).add(r.split)
    assert all(len(s) == 1 for s in by_block.values())  # no leakage

    # coin replay: splitmix64(block) >> 11 mod 10000 vs thresholds
    blocks = np.array(sorted(by_block), dtype=np.uint64)
    coin = (splitmix64(blocks) >> np.uint64(11)).astype(np.int64) % 10000
    want = np.where(
        coin < SMP.SPLIT_TRAIN, "train",
        np.where(coin < SMP.SPLIT_VAL, "val", "test"),
    )
    got = [next(iter(by_block[int(b)])) for b in blocks]
    assert got == list(want)

    # split shares are block-hash-driven: all three present at n=5000
    shares = {s for r in out for s in [r.split]}
    assert shares == {"train", "val", "test"}
