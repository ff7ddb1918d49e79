"""Near-duplicate primitives shared by the image, graph and spatial
operators.

All of them are pure DataFrame algebra (JVM/codegen end-to-end — no
Python in any hot path):

* ``_hot_buckets`` / ``HOT_BUCKET_LIMIT`` — the hot-bucket star guard
  of every banded self-join (phash here, co-location buckets in
  operators.geostats).
* ``connected_components`` — min-label propagation with pointer
  doubling over an undirected pair list (operators.graph,
  operators.joins, operators.geostats).
* ``phash_neardup_pairs`` / ``phash_neardup_pairs_mi`` — exact Hamming
  near-dup pairs over a 64-bit perceptual hash (oracle keys
  q_phash_neardup / q_phash_mi).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Star-cap threshold for degenerate LSH buckets: a (band, value) bucket
# with m members generates O(m²) join pairs — one black-image cluster at 100 TB scale can emit trillions of candidates.
# AQE skew-splitting spreads the SHUFFLE but cannot shrink the pair
# COUNT; above this limit a bucket emits a hub star (min-id member
# paired with every other) instead of the clique — m−1 pairs with the
# SAME connected components for downstream dedup clustering. Normal
# corpora never approach the limit, so sub-limit output is unchanged.
HOT_BUCKET_LIMIT = 4096


def _hot_buckets(
    bands: DataFrame, keys: list[str], aggs: list, limit: int
) -> DataFrame:
    """The tiny over-limit bucket table: groupBy(band key) with
    map-side partial counts, filtered to count > limit. By
    construction it holds at most N/limit rows (each hot bucket has
    >limit members), so broadcasting it back as a row tag is safe —
    this is the scale-correct guard shape (one extra combiner shuffle
    + a broadcast probe), NOT a window over the full table, which
    would re-derive the whole upstream pipeline per consumer branch."""
    return (
        bands.groupBy(*keys)
        .agg(F.count("*").alias("_m"), *aggs)
        .filter(F.col("_m") > limit)
        .drop("_m")
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components over an undirected near-dup pair list
    (doc_a < doc_b) via iterative min-label propagation: each round
    every node takes the min of its own label and its neighbors'
    labels. Converges in O(cluster diameter) rounds — near-dup
    clusters are shallow (diameter ≤ a few hops), so this is 2-4
    shuffle rounds in practice, each a plain equi-join + groupBy-min
    that partial-aggregates map-side.

    Each round also shortcuts label chains (label := label of label —
    pointer doubling), so convergence is O(log diameter) rounds even
    on adversarial path graphs, the same bound the alternating
    large-star/small-star formulation gives (Kiveris et al.,
    "Connected Components in MapReduce") while staying two equi-joins
    per round at |edges| + |nodes| shuffle rows of two longs. Each
    round materializes via localCheckpoint to truncate lineage (an
    iterative plan would otherwise grow by joins per round and
    recompute from round 0 at every action).

    Returns (doc_id, cluster_rep, cluster_size) for every node that
    appears in at least one pair; cluster_rep = min doc_id reachable.
    """
    sym = pairs.select(
        F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr")
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr")
        )
    )
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select("node").distinct().withColumn(
        "label", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(max_iters):
        nbr_labels = sym.join(
            labels.withColumnRenamed("node", "nbr"), "nbr"
        ).select("node", "label")
        new = (
            labels.unionByName(nbr_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: label := min(label, label(label)) — halves
        # the remaining chain depth every round
        lmap = new.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        new = (
            new.join(lmap, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("label2", "label")
                ).alias("label"),
            )
        )
        new = new.localCheckpoint(eager=True)
        # labels only ever decrease → the integer sum is a monotone
        # convergence witness (one cheap agg action per round)
        cur_sum = new.agg(F.sum("label")).collect()[0][0]
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sizes = labels.groupBy("label").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_rep"),
            "cluster_size",
        )
    )


# --- T21: perceptual-hash image near-dup ------------------------------------------


def phash_neardup_pairs(
    imgs: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    n_bands: int = 8,
    max_hamming: int = 6,
    bits: int = 64,
    hot_bucket_limit: int | None = HOT_BUCKET_LIMIT,
) -> DataFrame:
    """Image near-duplicate pairs over the input_hint's `phash:int64`
    column — the canonical image-dedup shape at 10^12 scale: band the
    64-bit perceptual hash into ``n_bands`` equal chunks, equi-join on
    (band_idx, band_value), refine with the exact bit_count(xor)
    Hamming distance. Pigeonhole guarantee: max_hamming <= n_bands - 1
    flips cannot touch every band, so the candidate join is LOSSLESS
    and the refined output is EXACT.

    Pure Column math end-to-end (shift/mask/xor/bit_count — no UDF);
    one self-equi-join on the band key. At skewed band values (e.g. a
    black-image phash cluster) the join inherits AQE skew splitting,
    and buckets larger than ``hot_bucket_limit`` emit a hub star
    instead of the O(m²) clique (HOT_BUCKET_LIMIT): the bucket's
    min-id image pairs with every member within max_hamming.
    Sub-limit output is the exact lossless set; over-limit buckets
    trade completeness for a linear pair count (the common degenerate
    — an identical-phash cluster — stays exact: every star pair has
    hamming 0 and the components match the clique's). Output is
    (img_a, img_b, hamming) with img_a < img_b, distinct."""
    if max_hamming >= n_bands:
        raise ValueError(
            "losslessness needs max_hamming <= n_bands - 1 (pigeonhole)"
        )
    bw = bits // n_bands
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("band"),
                F.shiftrightunsigned(F.col("h"), c * bw)
                .bitwiseAND(F.lit((1 << bw) - 1))
                .alias("bval"),
            )
            for c in range(n_bands)
        ]
    )
    banded = imgs.select(
        F.col(id_col).alias("img"), F.col(hash_col).alias("h")
    ).select("img", "h", F.explode(entries).alias("e")).select(
        "img",
        "h",
        F.col("e.band").alias("band"),
        F.col("e.bval").alias("bval"),
    )
    if hot_bucket_limit is None:
        src = banded
        hot = None
    else:
        # the banded table feeds FOUR consumers (hot-stats agg, tag
        # join, both self-join sides); the upstream is only a narrow
        # scan + band explode, but 4 re-scans of a 10^12-row table is
        # still 4x the IO, so checkpoint it once
        banded = banded.localCheckpoint(eager=True)
        hotstats = _hot_buckets(
            banded,
            ["band", "bval"],
            [
                F.min("img").alias("_hub"),
                F.min_by("h", "img").alias("_hub_h"),
            ],
            hot_bucket_limit,
        )
        tagged = banded.join(
            F.broadcast(hotstats), on=["band", "bval"], how="left"
        )
        src = tagged.filter(F.col("_hub").isNull()).drop("_hub", "_hub_h")
        hot = (
            tagged.filter(
                F.col("_hub").isNotNull() & (F.col("img") != F.col("_hub"))
            )
            .select(
                F.col("_hub").alias("img_a"),
                F.col("img").alias("img_b"),
                F.bit_count(
                    F.col("_hub_h").bitwiseXOR(F.col("h"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    a, b = src.alias("a"), src.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.img") < F.col("b.img")),
        )
        .select(
            F.col("a.img").alias("img_a"),
            F.col("b.img").alias("img_b"),
            F.bit_count(
                F.col("a.h").bitwiseXOR(F.col("b.h"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if hot is not None:
        pairs = pairs.unionByName(hot)
    return pairs.distinct()


def phash_neardup_pairs_mi(
    imgs: DataFrame,
    id_col: str = "image_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    bits: int = 64,
    hot_bucket_limit: int | None = HOT_BUCKET_LIMIT,
) -> DataFrame:
    """T21 at fleet density — the MULTI-INDEX Hamming join (HmSearch /
    multi-index pigeonhole): the sf0.1→sf1.0 spot-run measured the
    8-bit-band join super-linear (scaling exponent ≈1.8 — every
    (band, value) bucket holds n/256 images, so candidates grow
    n²/64: 3.5·10⁸ pairs at just 150k images).  This variant bands
    the hash into 4×16-bit substrings and EXPANDS one join side with
    every 1-bit flip of each substring (17 probes per band): by
    pigeonhole, Hamming ≤ 7 total means SOME band differs by ≤ 1, so
    the asymmetric plain×probe equi-join is LOSSLESS for the SAME
    max_hamming ≤ 7 contract while the 65536-value band space cuts
    uniform-corpus candidates ~15× (n²/964) — and keeps shrinking
    relative to n² as the value space outgrows the corpus slice per
    executor.  Output identical to phash_neardup_pairs (both exact);
    q_phash_mi pins it against the same brute-force twin.

    The degenerate-cluster guard is the same hub-star cap, applied to
    the plain-side buckets."""
    if max_hamming > 7:
        raise ValueError(
            "multi-index losslessness needs max_hamming <= 7 "
            "(4 bands x (1-flip probes + 1) - 1)"
        )
    if bits != 64:
        raise ValueError("phash_neardup_pairs_mi: 64-bit hashes only")
    n_bands, bw = 4, 16
    mask = (1 << bw) - 1
    plain_entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("band"),
                F.shiftrightunsigned(F.col("h"), c * bw)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for c in range(n_bands)
        ]
    )
    flips = [0] + [1 << j for j in range(bw)]
    banded = imgs.select(
        F.col(id_col).alias("img"), F.col(hash_col).alias("h")
    ).select("img", "h", F.explode(plain_entries).alias("e")).select(
        "img", "h", F.col("e.band").alias("band"),
        F.col("e.bval").alias("bval"),
    )
    if hot_bucket_limit is None:
        src = banded
        hot = None
    else:
        banded = banded.localCheckpoint(eager=True)
        hotstats = _hot_buckets(
            banded,
            ["band", "bval"],
            [
                F.min("img").alias("_hub"),
                F.min_by("h", "img").alias("_hub_h"),
            ],
            hot_bucket_limit,
        )
        tagged = banded.join(
            F.broadcast(hotstats), on=["band", "bval"], how="left"
        )
        src = tagged.filter(F.col("_hub").isNull()).drop("_hub", "_hub_h")
        hot = (
            tagged.filter(
                F.col("_hub").isNotNull() & (F.col("img") != F.col("_hub"))
            )
            .select(
                F.col("_hub").alias("img_a"),
                F.col("img").alias("img_b"),
                F.bit_count(
                    F.col("_hub_h").bitwiseXOR(F.col("h"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    probes = src.select(
        "img", "h", "band",
        F.explode(
            F.array(*[F.col("bval").bitwiseXOR(F.lit(f)) for f in flips])
        ).alias("bval"),
    )
    a, b = src.alias("a"), probes.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.img") < F.col("b.img")),
        )
        .select(
            F.col("a.img").alias("img_a"),
            F.col("b.img").alias("img_b"),
            F.bit_count(
                F.col("a.h").bitwiseXOR(F.col("b.h"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if hot is not None:
        pairs = pairs.unionByName(hot)
    return pairs.distinct()


