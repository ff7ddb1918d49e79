"""Deduplication operators over the documents table — the
training-data-pipeline surface (task mandate; no reference counterpart,
the reference is a tile codec).

All variants are pure DataFrame algebra (JVM/codegen end-to-end — no
Python in any hot path) built on one cross-engine-exact primitive:

    H7(s)  = int(md5(s)[:7], 16)   ∈ [0, 2^28)   — shingle/word hash
    H14(s) = int(md5(s)[:14], 16)  ∈ [0, 2^56)   — simhash bit source

chosen because Spark (`conv(substring(md5(x),1,7),16,10)`) and DuckDB
(`CAST('0x'||substring(md5(x),1,7) AS BIGINT)`) produce bit-identical
BIGINTs, so every operator here has a value-hash-exact DuckDB oracle.
28-bit hashes keep (a*h+b) % P inside int64 with zero overflow.

Scale story (100 TB of documents):
* exact dedup      — one hash-shuffle on a 28+bit key (collision-safe
                     because the groupBy key is the full text; the hash
                     is only a display column).
* MinHash + LSH    — shingle explode is narrow; signatures are ONE
                     groupBy(doc) with 16 min() partial aggs (map-side
                     combine shrinks to |docs| rows before shuffle);
                     banding self-join shuffles on (band, signature) —
                     the classic O(n·b) candidate join, AQE-skew-safe.
* SimHash          — word explode (narrow), then 56 conditional-sum aggregates
                     per doc in one groupBy; pairs via 4-chunk banding
                     (Hamming ≤ 3 ⇒ at least one 14-bit chunk equal by
                     pigeonhole when 4 chunks / 3 flips).
* n-gram Jaccard   — inverted-index equi-join on shingle, count
                     intersections per pair, one distinct-size join.
* embedding cosine — see operators.similarity (shares the pair logic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

H_PRIME = 2147483647  # 2^31 - 1 — (a*h+b) % P stays < 2^59, no overflow
N_HASHES = 16
N_BANDS = 4
SIM_BITS = 56  # H14 yields 56 bits


def h7(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def h14(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def words_col(text="text") -> F.Column:
    return F.split(F.col(text), " ")


def shingle_array_col(n: int, text: str = "text") -> F.Column:
    """array<string> of word n-grams of one doc — the Column form
    shared by shingles() and textstats.repetition_stats. Docs shorter
    than n words yield an EMPTY array: Spark's sequence(1, stop)
    DESCENDS when stop < 1, so the size guard is load-bearing."""
    w = words_col(text)
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    return F.when(
        F.size(w) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): word n-grams via transform over an index
    sequence — one narrow generate, no UDF. Docs shorter than n words
    produce no shingles (dedup-noise; dropped)."""
    return docs.select(
        "doc_id", F.explode(shingle_array_col(n)).alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = N_HASHES, n: int = 3
) -> DataFrame:
    """doc_id + mh0..mh{n-1}: min over shingles of the j-th affine
    permutation of H7. ONE shuffle; min() partial-aggregates map-side,
    so the shuffle carries |docs| rows, not |shingles|."""
    sh = shingles(docs, n).withColumn("hv", h7(F.col("shingle")))
    aggs = [
        F.min(
            (F.col("hv") * F.lit(2 * j + 1) + F.lit(j * 7919 + 1))
            % F.lit(H_PRIME)
        ).alias(f"mh{j}")
        for j in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


# Star-cap threshold for degenerate LSH buckets: a (band, value) bucket
# with m members generates O(m²) join pairs — one boilerplate-text or
# black-image cluster at 100 TB scale can emit trillions of candidates.
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


def _banded_pairs(
    bands: DataFrame,
    keys: list[str],
    id_col: str,
    out_a: str,
    out_b: str,
    hot_bucket_limit: int | None,
) -> DataFrame:
    """Self-equi-join on the band key with the hot-bucket star guard:
    sub-limit buckets take the exact clique join, over-limit buckets
    emit the hub star (min-id member × every other)."""
    if hot_bucket_limit is None:
        src = bands
        hot = None
    else:
        # the banded table feeds FOUR consumers (hot-stats agg, tag
        # join, both self-join sides); without a checkpoint Catalyst
        # re-derives the whole upstream pipeline (shingles + minhash
        # agg — the expensive part) once per consumer. Same pattern as
        # similarity.ivf_topk / joins.knn.
        bands = bands.localCheckpoint(eager=True)
        hotstats = _hot_buckets(
            bands, keys, [F.min(id_col).alias("_hub")], hot_bucket_limit
        )
        tagged = bands.join(F.broadcast(hotstats), on=keys, how="left")
        src = tagged.filter(F.col("_hub").isNull()).drop("_hub")
        hot = (
            tagged.filter(
                F.col("_hub").isNotNull() & (F.col(id_col) != F.col("_hub"))
            )
            .select(F.col("_hub").alias(out_a), F.col(id_col).alias(out_b))
        )
    a = src.alias("a")
    b = src.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b)
    )
    if hot is not None:
        pairs = pairs.unionByName(hot)
    return pairs.distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    n: int = 3,
    hot_bucket_limit: int | None = HOT_BUCKET_LIMIT,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b): docs agreeing on ALL
    rows of at least one band. Banding turns O(n^2) similarity into an
    equi-join on (band, signature) — the standard LSH plan; AQE
    skew-splits a hot signature's shuffle, and buckets larger than
    ``hot_bucket_limit`` emit a hub star instead of the O(m²) clique
    (see HOT_BUCKET_LIMIT — connected-component-equivalent for dedup
    clustering; pass None for the unguarded exact clique)."""
    # single-pass band explode (NOT a 4-way union: a union would clone
    # the whole shingle+agg pipeline per band AND per self-join side —
    # 8 recomputes; this shape computes signatures once and lets the
    # self-join reuse the exchange)
    bands = _doc_bands(docs, n_hashes, n_bands, n)
    return _banded_pairs(
        bands, ["band", "sig"], "doc_id", "doc_a", "doc_b", hot_bucket_limit
    )


def _doc_bands(
    docs: DataFrame, n_hashes: int, n_bands: int, n: int
) -> DataFrame:
    """(doc_id, band, sig) — the banded minhash signature relation
    (shared by minhash_lsh_pairs and incremental_minhash_pairs)."""
    r = n_hashes // n_bands
    sig = minhash_signatures(docs, n_hashes, n)
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh{b * r + i}").cast("string")
                        for i in range(r)
                    ],
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.sig").alias("sig")
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    n: int = 3,
    hot_bucket_limit: int | None = HOT_BUCKET_LIMIT,
) -> DataFrame:
    """T42 INCREMENTAL corpus dedup — the daily-ingest shape every
    production pipeline actually runs at 10^12 scale: a (small) new
    batch is matched against the already-deduplicated INDEX and
    against itself; the index is NEVER re-paired with itself (that
    work was done when those docs were ingested).  doc_id spaces
    must be disjoint (caller contract).

    Plan: band both sides' minhash signatures (the index side is the
    big scan; its banded relation is exactly what an ingest pipeline
    persists as its dedup index), then
      cross  = new×index band equi-join — the probe side is
               batch-sized, so shuffle ∝ |new| + matched buckets;
      within = the standard guarded self-join over the new batch.
    Hot INDEX buckets (> hot_bucket_limit members) would mean the
    index was never actually deduplicated; rather than emit m pairs
    per probe, each new doc in such a bucket matches the bucket's
    MIN-id representative only — for the keep/drop decision one
    witness is as good as m, the hub-star argument specialized to
    the asymmetric join.

    Output: (doc_a, doc_b, from_index) — doc_a the new doc, doc_b
    its match (an index doc, or an earlier new doc), distinct."""
    bn = _doc_bands(new_docs, n_hashes, n_bands, n).localCheckpoint(
        eager=True
    )
    bi = _doc_bands(index_docs, n_hashes, n_bands, n)
    if hot_bucket_limit is None:
        src_i = bi
        hot_pairs = None
    else:
        bi = bi.localCheckpoint(eager=True)
        hotstats = _hot_buckets(
            bi, ["band", "sig"], [F.min("doc_id").alias("_hub")],
            hot_bucket_limit,
        )
        tagged = bi.join(F.broadcast(hotstats), ["band", "sig"], "left")
        src_i = tagged.filter(F.col("_hub").isNull()).drop("_hub")
        hot_pairs = (
            bn.join(F.broadcast(hotstats), ["band", "sig"])
            .select(
                F.col("doc_id").alias("doc_a"),
                F.col("_hub").alias("doc_b"),
                F.lit(True).alias("from_index"),
            )
        )
    cross = (
        bn.alias("a")
        .join(
            src_i.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(True).alias("from_index"),
        )
    )
    within = _banded_pairs(
        bn, ["band", "sig"], "doc_id", "doc_a", "doc_b",
        hot_bucket_limit,
    ).select("doc_a", "doc_b", F.lit(False).alias("from_index"))
    out = cross.unionByName(within)
    if hot_pairs is not None:
        out = out.unionByName(hot_pairs)
    return out.distinct()


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: group by full text, keep min doc_id. Output one row
    per duplicated text: (keeper, n_copies, text_hash). The groupBy key
    is the text itself — the 28-bit hash is a display column, never a
    correctness dependency."""
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "keeper", "n_copies", h7(F.col("text")).alias("text_hash")
        )
    )


def simhash(docs: DataFrame, bits: int = SIM_BITS) -> DataFrame:
    """(doc_id, simhash): sign-sum of word-hash bits, weight = token
    occurrences. One word-explode then `bits` conditional sums in ONE
    groupBy(doc_id) — the explode amplifies rows per token but the
    aggregation partial-combines map-side back to |docs| rows before
    the shuffle (the shuffle, not the narrow explode, is what prices
    out at 100 TB)."""
    w = docs.select(
        "doc_id", F.explode(words_col()).alias("word")
    ).withColumn("hv", h14(F.col("word")))
    bit_sums = [
        F.sum(
            F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = w.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = SIM_BITS
) -> DataFrame:
    """Near-dup pairs under Hamming ≤ max_hamming via chunk banding:
    with 4 chunks and ≤3 flips, pigeonhole guarantees one equal chunk —
    so the candidate join on (chunk_idx, chunk_value) is LOSSLESS, and
    the exact bit_count(xor) filter makes it exact."""
    n_chunks = 4
    cw = bits // n_chunks
    sh = simhash(docs, bits)
    # single-pass chunk explode (same reuse rationale as
    # minhash_lsh_pairs: unions would clone the aggregation per chunk)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * cw)
                .bitwiseAND(F.lit((1 << cw) - 1))
                .alias("cval"),
            )
            for c in range(n_chunks)
        ]
    )
    chunks = sh.select(
        "doc_id", "simhash", F.explode(entries).alias("e")
    ).select(
        "doc_id",
        "simhash",
        F.col("e.chunk").alias("chunk"),
        F.col("e.cval").alias("cval"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            )
            <= max_hamming
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.15
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via shingle inverted index:
    join docs sharing a shingle, count per pair, divide by union size.
    Output int pairs only (no float column → hash-stable oracle)."""
    sh = shingles(docs, n).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_inter")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= F.lit(threshold)
        )
        .select("doc_a", "doc_b", "n_inter")
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


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs over
    docs ∪ shifted-copy, then connected components. The cluster_rep is
    the canonical keeper (min doc_id) a training pipeline would retain;
    every other member is a drop. The clique/star guard choice does
    not change components, but the shared oracle replays the clique —
    keep the exact path here (see q_minhash_lsh_pairs)."""
    return connected_components(
        minhash_lsh_pairs(with_self_copies(docs), hot_bucket_limit=None)
    )


def cluster_modularity(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    """T44 modularity of a clustering over its pair graph — the
    partition-quality score (Newman Q) community detection and dedup
    QA report, kept EXACT: with m edges, I intra-cluster edges and
    per-cluster degree sums d_c,
        Q · 4m²  =  4·m·I − Σ_c d_c²
    — pure BIGINT (the morans_i denominator-clearing idiom), emitted
    as (q_num, q_den) with q_den = 4m².  An m big enough to wrap 4m²
    raises (the collocations gate idiom; m ≤ ~1.5·10⁹ edges).

    pairs: (doc_a, doc_b) distinct undirected edges; labels:
    (doc_id, cluster_rep) covering every endpoint (the
    connected_components output).  Plan: two broadcast-or-shuffle
    label joins, one degree aggregate, one per-cluster fold — all
    Catalyst, shuffle keyed on cluster_rep.

    Output ONE row: (m, n_clusters, intra, q_num, q_den)."""
    lab_a = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_rep").alias("ra")
    )
    lab_b = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_rep").alias("rb")
    )
    e = pairs.join(lab_a, "doc_a").join(lab_b, "doc_b")
    mI = e.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum((F.col("ra") == F.col("rb")).cast("long"))
        .cast("long").alias("intra"),
    ).select(
        F.when(
            F.col("m") > F.lit(1_500_000_000),
            F.raise_error(
                F.format_string(
                    "cluster_modularity: %d edges would overflow the "
                    "exact 4m^2 denominator — sample the graph",
                    F.col("m"),
                )
            ).cast("long"),
        ).otherwise(F.col("m")).alias("m"),
        "intra",
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dc = deg.join(labels, "doc_id").groupBy("cluster_rep").agg(
        F.sum("d").cast("long").alias("d_c")
    )
    folds = dc.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("sum_dc2"),
    )
    return mI.crossJoin(folds).select(
        "m",
        "n_clusters",
        "intra",
        (4 * F.col("m") * F.col("intra") - F.col("sum_dc2"))
        .cast("long").alias("q_num"),
        (4 * F.col("m") * F.col("m")).cast("long").alias("q_den"),
    )


def edit_refine(
    docs: DataFrame,
    max_num: int = 1,
    max_den: int = 5,
) -> DataFrame:
    """T4b exact edit-distance VERIFICATION of LSH candidates — the
    refine stage a production near-dup pipeline runs after banding
    (MinHash recall is probabilistic and one colliding band admits
    false positives; Levenshtein is the exact similarity the candidate
    was a proxy for). Keep rule: edit_dist ≤ (max_num/max_den) ·
    max(len_a, len_b), decided by integer cross-multiplication
    (d·den ≤ num·maxlen) so no float ratio ever forms — default 1/5 =
    at most 20% of the longer text edited.

    Plan at 100 TB: candidates are the tiny relation (banding already
    collapsed the quadratic), so the two text joins are ordinary
    equi-joins on doc_id against the corpus scan, and the Levenshtein
    runs JVM-side (built-in ``levenshtein`` — no Python) on candidate
    pairs ONLY, never all-pairs. Output keeps BOTH branches:
    (doc_a, doc_b, edit_dist, max_len, keep)."""
    pairs = minhash_lsh_pairs(docs)
    ta = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    j = pairs.join(ta, "doc_a").join(tb, "doc_b")
    d = F.levenshtein("text_a", "text_b")
    ml = F.greatest(F.length("text_a"), F.length("text_b"))
    return j.select(
        "doc_a",
        "doc_b",
        d.cast("int").alias("edit_dist"),
        ml.cast("int").alias("max_len"),
        (d * F.lit(max_den) <= F.lit(max_num) * ml).alias("keep"),
    )


def with_self_copies(docs: DataFrame, offset: int = 1_000_000) -> DataFrame:
    """Test/demo harness: union the table with an id-shifted copy so
    every doc has one exact duplicate — makes dedup outputs non-trivial
    on corpora without natural dups. Mirrored verbatim in the oracle."""
    copy = docs.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    return docs.unionByName(copy)


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Bench/driver entry: LSH candidate pairs over docs ∪ shifted-copy."""
    return minhash_lsh_pairs(with_self_copies(docs))


def decontaminate(
    docs: DataFrame, bench_mod: int = 50, n: int = 4
) -> DataFrame:
    """Benchmark decontamination (the pretraining-pipeline op next to
    dedup): flag every train document sharing ANY word n-gram with the
    held-out eval set. Here the eval set is ``doc_id % bench_mod == 0``
    — a deterministic stand-in for an external benchmark table; swap in
    a real one in production, the plan is unchanged.

    Output: (doc_id, n_shared, min_bench) per CONTAMINATED train doc —
    distinct shared shingles and the smallest eval doc sharing one.

    Plan at 100 TB: the eval side is tiny relative to the corpus
    (benchmarks are KBs-MBs), so its distinct shingle set is
    F.broadcast() — the train shingle stream is narrow (explode +
    broadcast-hash probe, no shuffle) until the final per-doc
    aggregate, which carries only the contaminated minority."""
    bench = docs.filter(F.col("doc_id") % bench_mod == 0)
    train = docs.filter(F.col("doc_id") % bench_mod != 0)
    bsh = (
        shingles(bench, n)
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("min_bench"))
    )
    tsh = shingles(train, n).distinct()
    return (
        tsh.join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared"),
            F.min("min_bench").alias("min_bench"),
        )
    )


def bloom_decontaminate(
    docs: DataFrame, bench_mod: int = 50, n: int = 4,
    m_hex: int = 4, k: int = 4,
) -> DataFrame:
    """Bloom-filter decontamination — the fixed-memory scale variant
    of ``decontaminate``: instead of broadcasting the eval set's
    DISTINCT SHINGLE STRINGS (which grows with benchmark size × n-gram
    fan-out), broadcast only the bloom bitset they populate,
    materialized as the distinct SET-BIT POSITIONS table (≤ 2^(4·m_hex)
    rows — 65 536 at the default — a bounded summary independent of
    corpus and benchmark scale). The probe is then one broadcast-hash
    equi-join on an int key: no bitmap UDF, Catalyst/AQE see a plain
    join, the train stream stays narrow.

    Bit positions: slot i of a shingle = hex digits [4i, 4i+4) of
    md5(shingle) — k disjoint 16-bit slices of ONE strong hash (the
    standard k-hashes-from-one construction), cross-engine exact
    because DuckDB's md5 produces the identical hex, so the oracle
    twin replays membership INCLUDING the bloom's false positives:
    the approximation is deterministic and auditable, like the KMV
    sketch (operators.sketch).

    A train doc is flagged iff ANY of its shingles has ALL k slots'
    bits set (classic bloom may-contain): output (doc_id, n_hits),
    a deterministic SUPERSET of ``decontaminate``'s exact output
    (expected FP rate ≈ fill_ratio^k; ~1e-4 at the defaults on the
    sf0.01 corpus — tests pin the superset relation)."""
    if m_hex * k > 32:
        raise ValueError(
            "bloom_decontaminate: m_hex*k slices must fit md5's 32 hex "
            "chars (disjoint-slice hash family)"
        )
    bench = docs.filter(F.col("doc_id") % bench_mod == 0)
    train = docs.filter(F.col("doc_id") % bench_mod != 0)

    def pos(i: int):
        return F.conv(
            F.substring(F.md5(F.col("shingle")), 1 + m_hex * i, m_hex),
            16, 10,
        ).cast("long")

    slots = F.array(*[pos(i) for i in range(k)])
    eval_bits = (
        shingles(bench, n).select(F.explode(slots).alias("pos")).distinct()
    )
    tpos = (
        shingles(train, n)
        .distinct()
        .select(
            "doc_id", "shingle", F.posexplode(slots).alias("slot", "pos")
        )
    )
    may = (
        tpos.join(F.broadcast(eval_bits), "pos")
        .groupBy("doc_id", "shingle")
        .agg(F.count_distinct("slot").alias("ns"))
        .filter(F.col("ns") == k)
    )
    return may.groupBy("doc_id").agg(F.count("*").alias("n_hits"))


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
    and the refined output is EXACT — same argument as simhash_pairs,
    but over a caller-supplied hash column (no text pipeline).

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
        # same 4-consumer checkpoint rationale as _banded_pairs (the
        # upstream here is only a narrow scan + band explode, but 4
        # re-scans of a 10^12-row table is still 4x the IO); the guard
        # stays inline rather than shared because the Hamming refine
        # needs the hash column carried through both branches
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


def dup_ngram_spans(
    docs: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Substring-level duplicate-span detection — the exact-substring
    dedup primitive (find word n-grams shared verbatim across >=
    min_docs distinct documents, the signal used to cut repeated
    boilerplate/quotes out of LLM training corpora).

    Output: (ngram, n_docs, n_occ, first_doc) per duplicated span —
    distinct documents containing it, total occurrences, and the
    lowest doc_id as the canonical witness.

    Scale shape: the n-gram explode is a narrow in-partition fan-out
    (same shape as tile assignment); then TWO hash aggregations, each
    with map-side partial combine — first on (ngram, doc_id) so a doc
    repeating its own span collapses locally before the wire, then on
    ngram for the cross-doc counts. No distinct-aggregate Expand, no
    join, no driver collect. At 100 TB the string keys dominate
    shuffle bytes; swap the first groupBy key for h14(ngram) (2^56
    md5-prefix space) when approximate span identity is acceptable —
    kept exact-string here because the oracle gates exactness."""
    ng = shingles(docs, n).withColumnRenamed("shingle", "ngram")
    per_doc = ng.groupBy("ngram", "doc_id").agg(F.count("*").alias("occ"))
    return (
        per_doc.groupBy("ngram")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("occ").alias("n_occ"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def substring_dup_spans(
    docs: DataFrame, min_len: int = 12, min_occ: int = 2
) -> DataFrame:
    """T45: exact VARIABLE-LENGTH substring dedup — the ExactSubstr
    operator of Lee et al. 2022 (arXiv:2107.06499, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    Spark-first instead of via a monolithic suffix array: every
    maximal contiguous token region covered by duplicated runs — runs
    of length >= min_len whose text appears (as a contiguous token
    sequence) at least min_occ times across the corpus.  Adjacent or
    overlapping duplicated runs merge into one region, so a region's
    full text may itself occur only once; what is exact is the set of
    covered token positions, which strip_dup_spans consumes.

    Equivalence to the suffix-array formulation: a duplicated run of
    length M >= L contains exactly M-L+1 duplicated L-grams at
    consecutive start positions, and conversely every duplicated
    L-gram lies inside some duplicated run >= L — so the token
    positions covered by >= min_occ-frequent L-grams are EXACTLY the
    positions covered by duplicated runs >= L.  Seeding with
    positional L-grams and merging each document's overlapping seed
    intervals [pos, pos+L) therefore reproduces the suffix-array
    output without ever materializing one (or joining the corpus to
    itself).

    Plan shape (100 TB): positional L-gram fan-out is a narrow
    in-partition generate; the corpus-frequency gate is ONE window
    count over partition(gram) — a single hash shuffle on the gram,
    no gram->positions join; span merging is a per-document
    gaps-and-islands window (doc-bounded state).  Never all-pairs,
    never a self-join — pinned by tests/test_plan_quality_r5.py.  A
    pathologically hot gram (stop-phrase boilerplate) is an AQE skew
    key on the first shuffle; swap the partition key for h14(gram)
    when approximate gram identity is acceptable (kept exact-string
    here because the oracle gates exactness).

    Output: (doc_id, span_start, span_end, span_len) per maximal
    contiguous region covered by duplicated runs >= min_len,
    token-indexed [start, end), span_len >= min_len by construction."""
    L = int(min_len)
    grams = docs.select(
        "doc_id",
        F.posexplode(shingle_array_col(L)).alias("pos", "gram"),
    )
    w_gram = Window.partitionBy("gram")
    seeds = (
        grams.withColumn("occ", F.count("*").over(w_gram))
        .filter(F.col("occ") >= min_occ)
        .select("doc_id", "pos")
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    islands = seeds.withColumn(
        "prev_max_end", F.max(F.col("pos") + L).over(w_doc)
    ).withColumn(
        "new_island",
        F.when(
            F.col("prev_max_end").isNull()
            | (F.col("pos") > F.col("prev_max_end")),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("span_len"),
        )
    )


def strip_dup_spans(
    docs: DataFrame, min_len: int = 12, min_occ: int = 2
) -> DataFrame:
    """T45b: the CUT step of Lee et al. 2022 ExactSubstr dedup —
    substring_dup_spans finds the duplicated runs; this removes them
    and rebuilds each document's cleaned text (the deployed pipeline
    deletes every token that lies inside some >= min_len run whose
    text occurs >= min_occ times corpus-wide — all copies, the
    paper's aggressive default; training keeps the remainder).

    Construction: positional L-gram seeds pass the same single
    window-count frequency gate as substring_dup_spans; a token at
    position p is covered iff SOME seed starts in [p-L+1, p], which
    is a running MAX of the seed flag over the last L rows of the
    doc's token sequence — a second doc-bounded window, still no
    join against the corpus and no span materialization.  Rebuild is
    a per-doc ordered array_join of the surviving tokens.

    Scale shape (100 TB): gram fan-out narrow; ONE hash shuffle on
    the gram for the frequency gate; ONE shuffle on doc_id whose
    per-doc window state is doc-length-bounded; output carries one
    row per input doc.  Output: (doc_id, n_tokens, n_removed,
    clean_text) — clean_text is '' when every token was duplicated
    (CCNet/Lee drop such husks downstream)."""
    L = int(min_len)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    grams = docs.select(
        "doc_id",
        F.posexplode(shingle_array_col(L)).alias("pos", "gram"),
    )
    w_gram = Window.partitionBy("gram")
    seeds = (
        grams.withColumn("occ", F.count("*").over(w_gram))
        .filter(F.col("occ") >= min_occ)
        .select("doc_id", "pos", F.lit(1).alias("seed"))
    )
    w_cov = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(L - 1), 0)
    )
    marked = (
        toks.join(seeds, ["doc_id", "pos"], "left")
        .withColumn(
            "covered",
            F.max(F.coalesce(F.col("seed"), F.lit(0))).over(w_cov) == 1,
        )
    )
    # collect_list drops the NULLs the when() leaves for covered
    # tokens; array_sort on (pos, tok) structs restores text order
    kept = F.array_sort(
        F.collect_list(
            F.when(~F.col("covered"), F.struct("pos", "tok"))
        )
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.col("covered").cast("long"))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s.getField("tok")), " "
        ).alias("clean_text"),
    )


def cluster_canonical(docs: DataFrame) -> DataFrame:
    """Keep-one-per-cluster — the step a training pipeline runs AFTER
    near-dup clustering: retain the highest-quality member of each
    cluster (quality proxy: distinct-token count, an INTEGER so the
    pick is float-free; ties break to the smallest doc_id, so an exact
    duplicate pair keeps the original and drops the copy). Returns
    (cluster_rep, cluster_size, kept_doc_id, kept_n_distinct).

    Plan: clusters (connected components) equi-join the per-doc
    quality projection, then ONE groupBy with a struct-max argmax —
    no window function over the full table (a window would re-sort
    every cluster's members; max(struct) partial-aggregates map-side
    like any other agg)."""
    from mapnik_vector_tile_spark.operators.textstats import quality_stats

    clusters = dedup_clusters(docs)  # doc_id, cluster_rep, cluster_size
    quality = quality_stats(with_self_copies(docs)).select(
        "doc_id", F.col("n_distinct").cast("long").alias("nd")
    )
    j = clusters.join(quality, "doc_id")
    best = F.max(
        F.struct(F.col("nd"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("_best")
    return (
        j.groupBy("cluster_rep")
        .agg(F.max("cluster_size").alias("cluster_size"), best)
        .select(
            "cluster_rep",
            "cluster_size",
            (-F.col("_best.neg_id")).alias("kept_doc_id"),
            F.col("_best.nd").alias("kept_n_distinct"),
        )
    )


def chunk_dedup(
    docs: DataFrame, chunk_words: int = 12, text_col: str = "text"
) -> DataFrame:
    """T24: chunk-level exact dedup — the RefinedWeb/CCNet line-dedup
    shape: split each document into fixed-size word chunks (the
    paragraph proxy for corpora without line structure), keep only the
    corpus-wide FIRST occurrence of every distinct chunk (lowest
    (doc_id, chunk_idx)), and rebuild the cleaned text from surviving
    chunks in order.

    Scale shape: chunking is a pure-Column narrow projection
    (split/sequence/slice lambdas in codegen); the first-occurrence
    table is a groupBy(chunk).min — MAP-SIDE partial aggregation, so a
    boilerplate chunk duplicated a billion times combines locally
    instead of flooding one window partition — joined back on the
    chunk equi-key (AQE skew-splittable); reassembly is one
    groupBy(doc_id). Two shuffles total, both partial-agg'd; no UDF.

    Returns (doc_id, n_chunks, n_kept, cleaned)."""
    wc = int(chunk_words)
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(wc)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, i * F.lit(wc) + F.lit(1), wc), " "
        ),
    )
    ex = docs.select(
        "doc_id", F.posexplode(chunks).alias("cidx", "chunk")
    )
    firsts = ex.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "cidx")).alias("first")
    )
    kept = ex.join(firsts, "chunk").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("cidx") == F.col("first.cidx")),
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_chunks"),
        F.sum(F.col("keep").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("cidx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned"),
    )
