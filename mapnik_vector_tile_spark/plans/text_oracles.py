"""DuckDB oracle SQL for the embedding, corpus-sampling and sketch
operators + the Spark query callables they gate.

The Spark side is the DataFrame implementation in operators/{similarity,
sampling,sketch} and the batch twin of streaming/dedup; the oracle is
independent ANSI SQL over the same parquet views (`embeddings`,
`documents`, `events`). Parity holds because both sides share exact
primitives: splitmix64 row hashes (sampling), md5-prefix integer hashes
(sketch), integer-grid quantization (k-means, PQ, SemDeDup), and
ROUND(…, 9) at every float comparison boundary (cosine top-k).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_COS9_D = (
    "ROUND(list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9)"
)


def sql_ann_topk(k: int = 5) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, nbr, rnk FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
         CAST(row_number() OVER (
           PARTITION BY a.vec_id ORDER BY {_COS9_D} DESC, b.vec_id
         ) AS BIGINT) AS rnk
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
) r WHERE rnk <= {k}
"""


def sql_ann_lsh(k: int = 5) -> str:
    """Full oracle for the LSH-bucketed ANN path: the hyperplane matrix
    is the same integer mix as similarity._hyperplanes rendered in SQL
    (bit-exact, verified), bucket = sign-bit signature, then exact
    ROUND(cos,9)+id top-k WITHIN buckets — replicates the engine result
    row-for-row (recall<1 vs brute force is a property both sides
    share, not a mismatch). dim=64 pinned by the embeddings generator;
    sign margin on this corpus is ≥1e-4, far above cross-engine
    summation drift."""
    from mapnik_vector_tile_spark.operators.similarity import N_PLANES

    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ed AS (SELECT vec_id, UNNEST(v) AS val, generate_subscripts(v, 1) AS d FROM e),
pl AS (SELECT p, d,
         ((((p*64 + d - 1) * 2654435761) % 4294967296) / 4294967296.0) - 0.5 AS w
       FROM generate_series(0,{N_PLANES - 1}) t(p), generate_series(1,64) s(d)),
dots AS (SELECT ed.vec_id, pl.p, SUM(ed.val * pl.w) AS dot
         FROM ed JOIN pl ON pl.d = ed.d GROUP BY 1, 2),
bk AS (SELECT vec_id,
              CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       FROM dots GROUP BY 1),
eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id))
SELECT vec_id, nbr, rnk FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
         CAST(row_number() OVER (
           PARTITION BY a.vec_id ORDER BY {_COS9_D} DESC, b.vec_id
         ) AS BIGINT) AS rnk
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
) r WHERE rnk <= {k}
"""


def sql_count_min(d: int = 4, width: int = 16, top: int = 50) -> str:
    """Twin of sketch.count_min_estimates: identical md5-prefix row
    hashes ('cms<i>|' salts), counter sums, exact top-k with the
    (count DESC, token) tiebreak, min-over-rows estimate."""
    h = (
        "CAST('0x' || substring(md5('cms' || CAST(r.i AS VARCHAR) "
        "|| '|' || tok), 1, 14) AS BIGINT)"
    )
    return f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents),
rows_ AS (SELECT unnest(generate_series(0, {d - 1})) AS i),
cells AS (
  SELECT r.i AS row_, ({h}) % {width} AS bucket,
         COUNT(*) AS cnt
  FROM toks, rows_ r GROUP BY 1, 2
),
exact AS (
  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY 1
  ORDER BY exact_n DESC, tok LIMIT {top}
),
probes AS (
  SELECT e.tok, e.exact_n, r.i AS row_, ({h.replace('tok', 'e.tok')}) % {width} AS bucket
  FROM exact e, rows_ r
)
SELECT p.tok AS token,
       CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(MIN(c.cnt) AS BIGINT) AS est_n
FROM probes p JOIN cells c ON c.row_ = p.row_ AND c.bucket = p.bucket
GROUP BY 1, 2
"""


def q_count_min(spark, sf_dir):
    """T35 Count-Min heavy-hitter estimates (see operator doc):
    bit-exact sketch replication, not statistical agreement."""
    from mapnik_vector_tile_spark.operators.sketch import (
        count_min_estimates,
    )

    # width 16 on the 31-token corpus FORCES collisions, so the
    # one-sided overestimate and the min-over-rows are load-bearing
    # (width 1024 would read est == exact everywhere — vacuous)
    return count_min_estimates(_docs(spark, sf_dir), width=16)


def sql_alignment_filter(
    dims: int = 64, tau_num: int = 5, tau_den: int = 100
) -> str:
    """Twin of similarity.alignment_filter on xor-neighbor pairs:
    same SD_SCALE round-half-away quantization, same pure-BIGINT
    τ²-cross-multiplied keep gate, same ROUND(cos,9) audit column."""
    from mapnik_vector_tile_spark.operators.similarity import SD_SCALE
    from mapnik_vector_tile_spark.plans.shared_sql import (
        round_half_up_nonneg as rhu,
    )

    def rha(x: str) -> str:
        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    sv = rha(f"CAST(v AS DOUBLE) * {float(SD_SCALE)!r}")
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST({sv} AS BIGINT)) AS qv
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS pair_id, a.qv AS qu, b.qv AS qw
  FROM q a JOIN q b ON xor(b.vec_id, 1) = a.vec_id
),
dim AS (SELECT unnest(range(1, {dims + 1})) AS di),
pr AS (
  SELECT pair_id,
         SUM(qu[di] * qw[di]) AS dot,
         SUM(qu[di] * qu[di]) AS nu,
         SUM(qw[di] * qw[di]) AS nv
  FROM p, dim GROUP BY 1
)
SELECT pair_id,
       (dot > 0 AND dot * dot * {tau_den * tau_den}
          >= {tau_num * tau_num} * nu * nv) AS align_keep,
       CASE WHEN nu = 0 OR nv = 0 THEN 0.0e0
            ELSE round(CAST(dot AS DOUBLE) /
                 (sqrt(CAST(nu AS DOUBLE)) * sqrt(CAST(nv AS DOUBLE))), 9)
       END AS cos9
FROM pr
"""


def q_alignment_filter(spark, sf_dir):
    """T36 CLIP-score alignment gate (see operator doc). The caption
    tower is stood in by the xor-1 neighbor's embedding — a
    deterministic total pairing both engines derive identically — and
    τ = 5/100 sits inside the synthetic corpus's cross-pair cosine
    spread (median ≈ 0.01, max ≈ 0.36), so BOTH branches of the keep
    gate carry rows (LAION's production 28/100 stays the operator
    default)."""
    from mapnik_vector_tile_spark.operators import similarity as SIM

    emb = _emb(spark, sf_dir)
    img = emb.select(
        F.col("vec_id").alias("pair_id"),
        F.col("embedding").alias("img_vec"),
    )
    txt = emb.select(
        F.col("vec_id").bitwiseXOR(F.lit(1)).alias("pair_id"),
        F.col("embedding").alias("txt_vec"),
    )
    pairs = img.join(txt, "pair_id")
    out = SIM.alignment_filter(pairs, tau_num=5)
    return out.select("pair_id", "align_keep", "cos9")


def sql_hard_negatives(k: int = 3) -> str:
    """Twin of similarity.hard_negatives: the sql_ann_lsh bucket
    machinery with the same-label mask — candidates join on the
    bucket AND a.label <> b.label, exact ROUND(cos,9)+id rank."""
    from mapnik_vector_tile_spark.operators.similarity import N_PLANES

    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
ed AS (SELECT vec_id, UNNEST(v) AS val, generate_subscripts(v, 1) AS d
       FROM e),
pl AS (SELECT p, d,
         ((((p*64 + d - 1) * 2654435761) % 4294967296) / 4294967296.0)
           - 0.5 AS w
       FROM generate_series(0,{N_PLANES - 1}) t(p),
            generate_series(1,64) s(d)),
dots AS (SELECT ed.vec_id, pl.p, SUM(ed.val * pl.w) AS dot
         FROM ed JOIN pl ON pl.d = ed.d GROUP BY 1, 2),
bk AS (SELECT vec_id,
              CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END)
                   AS BIGINT) AS bucket
       FROM dots GROUP BY 1),
eb AS (SELECT e.vec_id, e.label, e.v, bk.bucket
       FROM e JOIN bk USING (vec_id))
SELECT vec_id, nbr, rnk, nbr_label FROM (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
         CAST(b.label AS BIGINT) AS nbr_label,
         CAST(row_number() OVER (
           PARTITION BY a.vec_id ORDER BY {_COS9_D} DESC, b.vec_id
         ) AS BIGINT) AS rnk
  FROM eb a JOIN eb b
    ON a.bucket = b.bucket AND a.label <> b.label
) r WHERE rnk <= {k}
"""


def q_hard_negatives(spark, sf_dir):
    """T34 hard-negative mining for contrastive training (see operator
    doc): LSH-confined exact cosine rank over different-label rows."""
    from mapnik_vector_tile_spark.operators import similarity as SIM

    return SIM.hard_negatives(_emb(spark, sf_dir), k=3)


_COS9_EC = (
    "ROUND(list_dot_product(e.v, c.cv) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 9)"
)


def sql_ann_ivf(k: int = 5, n_cells: int = 16, nprobe: int = 2) -> str:
    """Full oracle for the IVF path: same deterministic coarse
    quantizer (lowest-vec_id vectors as centroids), cell = argmax
    cos9 with centroid-id tiebreak, nprobe-cell candidate union,
    exact in-candidate top-k."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {n_cells}),
asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id ORDER BY {_COS9_EC} DESC, c.cid
         ) AS crn
  FROM e CROSS JOIN cents c),
members AS (SELECT vec_id AS nbr, cid AS cell FROM asg WHERE crn = 1),
probes AS (SELECT vec_id AS qid, cid AS cell FROM asg WHERE crn <= {nprobe}),
cand AS (
  SELECT p.qid, m.nbr FROM probes p
  JOIN members m ON m.cell = p.cell AND m.nbr <> p.qid)
SELECT vec_id, nbr, rnk FROM (
  SELECT cd.qid AS vec_id, cd.nbr,
         CAST(row_number() OVER (
           PARTITION BY cd.qid ORDER BY {_COS9_D} DESC, cd.nbr
         ) AS BIGINT) AS rnk
  FROM cand cd
  JOIN e a ON a.vec_id = cd.qid
  JOIN e b ON b.vec_id = cd.nbr
) r WHERE rnk <= {k}
"""


def sql_embedding_neardup(threshold: float = 0.999) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS9_D} >= {threshold}
"""


# --- Spark query callables ----------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_ann_topk(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.brute_force_topk(_emb(spark, sf_dir), k=5)


def q_ann_lsh(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.lsh_bucketed_topk(_emb(spark, sf_dir), k=5)


def q_ann_ivf(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.ivf_topk(_emb(spark, sf_dir), k=5)


def q_embedding_quantize(spark, sf_dir):
    """T20 int8 scalar quantization with a FULL oracle: per-row absmax
    scale, q_i = round_half_away(v_i*127/absmax). Engine runs pure
    Column math (transform/aggregate lambdas, whole-stage codegen, no
    UDF/shuffle); DuckDB unnests and replays the identical float64
    chain — float32→double casts are exact, (v*127)/absmax uses one
    operation order on both engines, and the floor-based rounding is
    the shared std::round form, so per-vector integer sums hash-match
    bit-exactly."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.operators import similarity as S

    qd = S.quantize_embeddings(_emb(spark, sf_dir))
    zero = F.lit(0).cast("long")
    return qd.select(
        "vec_id",
        F.size("q").cast("bigint").alias("n_dims"),
        F.aggregate("q", zero, lambda a, v: a + v).alias("sum_q"),
        F.aggregate("q", zero, lambda a, v: a + F.abs(v)).alias("sum_abs_q"),
    )


def sql_embedding_quantize() -> str:
    def rha(x: str) -> str:
        from mapnik_vector_tile_spark.plans.shared_sql import (
            round_half_up_nonneg as rhu,
        )

        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    qv = rha("(CAST(v AS DOUBLE) * 127.0e0) / am")
    return f"""
WITH u AS (SELECT vec_id, unnest(embedding) AS v FROM embeddings),
m AS (SELECT vec_id, MAX(ABS(CAST(v AS DOUBLE))) AS am FROM u GROUP BY 1),
q AS (
  SELECT u.vec_id,
         CASE WHEN m.am = 0 THEN 0 ELSE {qv} END AS qv
  FROM u JOIN m ON u.vec_id = m.vec_id
)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(qv) AS BIGINT) AS sum_q,
       CAST(SUM(ABS(qv)) AS BIGINT) AS sum_abs_q
FROM q GROUP BY 1
"""


def q_embedding_neardup(spark, sf_dir):
    """Threshold 0.45 is corpus-calibrated, NOT the API default (0.999):
    the driver's synthetic embeddings max out at pairwise cos ~0.51
    (0.60 at sf0.1), so any realistic near-dup threshold returns the
    empty set and the oracle match would be vacuous. 0.45 yields
    7/14/144 pairs at sf0.001/0.01/0.1 — a non-trivial value-hash."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


# --- deterministic sampling / split assignment (operators.sampling) -------


def _hord_cte(src: str = "documents") -> str:
    """DuckDB twin of sampling.sample_hash: splitmix64(doc_id) >> 11
    via HUGEINT arithmetic (bit-exact, verified by the pair hashes)."""
    from mapnik_vector_tile_spark.plans.oracle_pairs import splitmix64_sql

    return f"""
h AS (SELECT doc_id, lang, source, n_chars,
             CAST(({splitmix64_sql('doc_id')}) // 2048 AS BIGINT) AS hord
      FROM {src})"""


def sql_train_split() -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
    )

    return f"""
WITH {_hord_cte()}
SELECT lang,
       CASE WHEN hord % {BUCKETS} < {SPLIT_TRAIN} THEN 'train'
            WHEN hord % {BUCKETS} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM h
GROUP BY 1, 2
"""


def sql_stratified_sample() -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        BUCKETS,
        STRATA_RATES,
    )

    case = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(STRATA_RATES.items())
    )
    return f"""
WITH {_hord_cte()}
SELECT lang, source,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM h
WHERE hord % {BUCKETS} < CASE lang {case} ELSE 0 END
GROUP BY 1, 2
"""


def sql_balanced_sample(k: int = 20) -> str:
    return f"""
WITH {_hord_cte()}
SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
FROM (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hord, doc_id) AS rnk
      FROM h) r
WHERE rnk <= {k}
"""


def q_train_split(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return (
        SMP.assign_split(_docs(spark, sf_dir))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def q_stratified_sample(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return (
        SMP.stratified_sample(_docs(spark, sf_dir))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def q_balanced_sample(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return SMP.balanced_topk(_docs(spark, sf_dir), k=20).select(
        "lang", F.col("rnk").cast("bigint").alias("rnk"), "doc_id"
    )


def sql_seq_packing() -> str:
    from mapnik_vector_tile_spark.operators.sampling import (
        N_PACK_SHARDS,
        PACK_BUDGET,
    )

    return f"""
WITH {_hord_cte()},
sh AS (SELECT doc_id, lang, n_chars, hord % {N_PACK_SHARDS} AS shard FROM h),
b AS (
  SELECT lang, shard, doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (
             PARTITION BY lang, shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {int(PACK_BUDGET)} AS BIGINT) AS bin
  FROM sh)
SELECT lang, shard, bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id
FROM b
GROUP BY 1, 2, 3
"""


def q_seq_packing(spark, sf_dir):
    from mapnik_vector_tile_spark.operators import sampling as SMP

    return (
        SMP.pack_contiguous(_docs(spark, sf_dir))
        .groupBy("lang", "shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


def sql_temperature_resample() -> str:
    """DuckDB twin of sampling.temperature_resample (T = 2): per-domain
    keep rate = min(BUCKETS, BUCKETS·M·isqrt(n_i) // (Σ isqrt(n_j) · n_i))
    with M = total_rows // 2.  DuckDB has no integer sqrt, so floor(sqrt)
    over DOUBLE is corrected by one exactness step (±1 fixup against the
    true square) — bit-identical to Python math.isqrt for any BIGINT n."""
    from mapnik_vector_tile_spark.operators.sampling import BUCKETS

    return f"""
WITH {_hord_cte()},
c AS (SELECT lang, COUNT(*) AS n FROM h GROUP BY 1),
s0 AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS s FROM c),
isq AS (SELECT lang, n,
               CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1
                    WHEN s * s > n THEN s - 1
                    ELSE s END AS isq
        FROM s0),
tot AS (SELECT SUM(isq) AS ssum, CAST(SUM(n) // 2 AS BIGINT) AS budget
        FROM isq),
rt AS (SELECT lang, n,
              LEAST({BUCKETS},
                    {BUCKETS} * tot.budget * isq // (tot.ssum * n)
              ) AS rate_bp
       FROM isq, tot)
SELECT h.lang AS lang,
       CAST(rt.rate_bp AS BIGINT) AS rate_bp,
       COUNT(*) AS n_kept,
       MIN(h.doc_id) AS min_id,
       CAST(SUM(h.n_chars) AS BIGINT) AS sum_chars
FROM h JOIN rt ON h.lang = rt.lang
WHERE h.hord % {BUCKETS} < rt.rate_bp
GROUP BY 1, 2
"""


def q_temperature_resample(spark, sf_dir):
    """T30 temperature-based domain mixture (XLM-R/mT5 T=2 sampling rule)
    — up-weights tail languages, down-weights the head, exact integer
    thresholds so both engines replay the keep-set bit-for-bit."""
    from mapnik_vector_tile_spark.operators import sampling as SMP

    docs = _docs(spark, sf_dir)
    budget = docs.count() // 2
    return (
        SMP.temperature_resample(docs, budget_rows=budget)
        .groupBy("lang", "rate_bp")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def sql_unimax() -> str:
    """Twin of sampling.unimax_resample (budget = 2·total, E = 3):
    the ascending-size greedy allocation is replayed as a recursive
    CTE carrying (position, remaining budget) — all BIGINT — then the
    per-row copy count is base + the hash coin, aggregated per lang."""
    from mapnik_vector_tile_spark.operators.sampling import BUCKETS

    return f"""
WITH RECURSIVE {_hord_cte()},
c AS (SELECT lang, COUNT(*) AS n FROM h GROUP BY 1),
o AS (SELECT lang, n,
             row_number() OVER (ORDER BY n, lang) AS pos,
             COUNT(*) OVER () AS k
      FROM c),
tot AS (SELECT CAST(SUM(n) * 2 AS BIGINT) AS budget FROM c),
g(pos, lang, n, m, remaining) AS (
  SELECT o.pos, o.lang, o.n,
         LEAST(o.n * 3, (SELECT budget FROM tot) // o.k),
         (SELECT budget FROM tot)
           - LEAST(o.n * 3, (SELECT budget FROM tot) // o.k)
  FROM o WHERE o.pos = 1
  UNION ALL
  SELECT o.pos, o.lang, o.n,
         LEAST(o.n * 3, GREATEST(g.remaining, 0) // (o.k - g.pos)),
         g.remaining
           - LEAST(o.n * 3, GREATEST(g.remaining, 0) // (o.k - g.pos))
  FROM g JOIN o ON o.pos = g.pos + 1
),
rates AS (
  SELECT lang, n, m // n AS base_copies,
         {BUCKETS} * (m % n) // n AS rate_bp
  FROM g
),
cp AS (
  SELECT h.lang, h.doc_id, h.n_chars, r.base_copies, r.rate_bp,
         r.base_copies
           + CASE WHEN h.hord % {BUCKETS} < r.rate_bp THEN 1 ELSE 0 END
           AS copies
  FROM h JOIN rates r USING (lang)
)
SELECT lang,
       CAST(base_copies AS BIGINT) AS base_copies,
       CAST(rate_bp AS BIGINT) AS rate_bp,
       CAST(SUM(copies) AS BIGINT) AS n_out,
       CAST(SUM(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_src,
       MIN(CASE WHEN copies > 0 THEN doc_id END) AS min_id,
       CAST(SUM(n_chars * copies) AS BIGINT) AS sum_chars
FROM cp
GROUP BY 1, 2, 3
HAVING SUM(copies) > 0
"""


def q_unimax_resample(spark, sf_dir):
    """T30b UniMax epoch-capped mixture (see operator doc): budget =
    2·corpus, epoch cap 3 — the smallest language hits its epoch cap,
    the rest split the leftover with fractional-epoch hash coins."""
    from mapnik_vector_tile_spark.operators import sampling as SMP

    docs = _docs(spark, sf_dir)
    out = SMP.unimax_resample(docs, budget_rows=docs.count() * 2)
    return out.groupBy("lang", "base_copies", "rate_bp").agg(
        F.count("*").alias("n_out"),
        F.countDistinct("doc_id").alias("n_src"),
        F.min("doc_id").alias("min_id"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


def q_token_quantiles(spark, sf_dir):
    """EXACT per-lang token-count quantiles (p50/p90/p99) via rank
    selection (operators.sketch.group_quantiles) — the corpus-audit
    distribution summary next to the KMV cardinality sketch, exact and
    value-hash-gated where approx_percentile would be sketch-private."""
    from mapnik_vector_tile_spark.operators.sketch import group_quantiles

    docs = _docs(spark, sf_dir).select(
        "lang", F.size(F.split("text", " ")).cast("long").alias("v")
    )
    return group_quantiles(
        docs, "lang", "v", qs=(0.5, 0.9, 0.99), names=("p50", "p90", "p99")
    )


def sql_token_quantiles() -> str:
    return """
WITH t AS (SELECT lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS v
           FROM documents),
r AS (SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM t)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_rows,
       MAX(CASE WHEN rn = CAST(floor((n - 1) * 5e-1) AS BIGINT)
                THEN v END) AS p50,
       MAX(CASE WHEN rn = CAST(floor((n - 1) * 9e-1) AS BIGINT)
                THEN v END) AS p90,
       MAX(CASE WHEN rn = CAST(floor((n - 1) * 99e-2) AS BIGINT)
                THEN v END) AS p99
FROM r GROUP BY 1
"""


def pairs() -> dict[str, tuple[Callable, str | None]]:
    """name -> (spark_fn, oracle_sql | None). None = rows-only check
    (approximate/recall-bounded ops, documented)."""
    return {
        "q_proto_prune": (q_proto_prune, sql_proto_prune()),
        "q_ann_topk": (q_ann_topk, sql_ann_topk()),
        "q_ann_lsh_bucketed": (q_ann_lsh, sql_ann_lsh()),
        "q_ann_ivf": (q_ann_ivf, sql_ann_ivf()),
        "q_embedding_neardup": (
            q_embedding_neardup,
            sql_embedding_neardup(0.45),  # corpus-calibrated, see query doc
        ),
        "q_embedding_quantize": (q_embedding_quantize, sql_embedding_quantize()),
        "q_embedding_gram": (q_embedding_gram, sql_embedding_gram()),
        "q_pca_power": (q_pca_power, sql_pca_power()),
        "q_ann_twostage": (q_ann_twostage, sql_ann_twostage()),
        "q_kmeans": (q_kmeans, sql_kmeans()),
        "q_pq": (q_pq, sql_pq()),
        "q_event_dedup": (q_event_dedup, sql_event_dedup()),
        "q_train_split": (q_train_split, sql_train_split()),
        "q_stratified_sample": (q_stratified_sample, sql_stratified_sample()),
        "q_balanced_sample": (q_balanced_sample, sql_balanced_sample(20)),
        "q_seq_packing": (q_seq_packing, sql_seq_packing()),
        "q_temperature_resample": (
            q_temperature_resample,
            sql_temperature_resample(),
        ),
        "q_unimax_resample": (q_unimax_resample, sql_unimax()),
        "q_hard_negatives": (q_hard_negatives, sql_hard_negatives()),
        "q_count_min": (q_count_min, sql_count_min()),
        "q_token_quantiles": (q_token_quantiles, sql_token_quantiles()),
        "q_semdedup": (q_semdedup, sql_semdedup()),
        "q_alignment_filter": (q_alignment_filter, sql_alignment_filter()),
    }


# --- k-means clustering (operators.similarity.kmeans_clusters) ------------


def q_kmeans(spark, sf_dir):
    """T22 distributed Lloyd k-means with a FULL oracle: fixed 2^20
    integer-grid quantization makes every distance an exact BIGINT, so
    assignment (argmin with cid tiebreak), the one-shuffle centroid
    update (exact integer sums -> IEEE double mean -> shared
    round-half-away back to the grid) and the final assignment replay
    bit-exactly in DuckDB as two unrolled Lloyd rounds. Any divergence
    in quantization, tie-breaks, the empty-cluster carry, or float
    summation order breaks the hash."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.kmeans_clusters(_emb(spark, sf_dir), k=8, iters=2)


def sql_kmeans(k: int = 8, dims: int = 64) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import (
        round_half_up_nonneg as rhu,
    )

    def rha(x: str) -> str:
        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    qv = rha(f"CAST(v AS DOUBLE) * {float(1 << 20)!r}")
    cmean = rha("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, v -> {qv}) AS qv
  FROM embeddings
),
dim AS (SELECT unnest(range(1, {dims + 1})) AS di),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
),
d1 AS (
  SELECT v.vec_id, c.cid,
         SUM((v.qv[dim.di] - c.cv[dim.di]) * (v.qv[dim.di] - c.cv[dim.di])) AS d2
  FROM q v, c0 c, dim GROUP BY 1, 2
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d1
  ) WHERE rn = 1
),
s1 AS (
  SELECT a.cid, dim.di, SUM(v.qv[dim.di]) AS s, COUNT(*) AS n
  FROM a1 a JOIN q v USING (vec_id), dim GROUP BY 1, 2
),
c1new AS (
  SELECT cid, list(CAST({cmean} AS BIGINT) ORDER BY di) AS cv
  FROM s1 GROUP BY cid
),
c1 AS (
  SELECT c0.cid, COALESCE(c1new.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN c1new USING (cid)
),
d2_ AS (
  SELECT v.vec_id, c.cid,
         SUM((v.qv[dim.di] - c.cv[dim.di]) * (v.qv[dim.di] - c.cv[dim.di])) AS d2
  FROM q v, c1 c, dim GROUP BY 1, 2
)
SELECT vec_id, CAST(cid AS INT) AS cluster, CAST(d2 AS BIGINT) AS d2
FROM (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d2_
) WHERE rn = 1
"""


def q_pq(spark, sf_dir):
    """T27 Product Quantization (similarity.pq_encode — per-subspace
    Lloyd codebooks on the 2^20 integer grid, m codes per vector, ADC
    lookup against the lowest-id query) with a FULL oracle: DuckDB
    unrolls both Lloyd rounds in BOTH subspaces (same seeds, exact
    BIGINT distances, shared round-half-away centroid update, empty-
    cell carry, lowest-code tiebreak), rebuilds the query's m×ksub
    lookup table, and replays every vector's codes + ADC estimate
    bit-for-bit."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.pq_encode(_emb(spark, sf_dir), m=2, ksub=8, iters=2)


def sql_pq(m: int = 2, ksub: int = 8, dims: int = 64) -> str:
    from mapnik_vector_tile_spark.plans.shared_sql import (
        round_half_up_nonneg as rhu,
    )

    def rha(x: str) -> str:
        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    qv = rha(f"CAST(v AS DOUBLE) * {float(1 << 20)!r}")
    cmean = rha("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
    sub = dims // m
    parts = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding, v -> {qv}) AS qv
  FROM embeddings
),
dimj AS (SELECT unnest(range(1, {sub + 1})) AS di),
seed AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {ksub})
),
qmin AS (SELECT qv FROM q ORDER BY vec_id LIMIT 1)"""
    ]
    for j in range(m):
        off = j * sub
        parts.append(f"""c0_{j} AS (
  SELECT cid, list(qv[{off} + di] ORDER BY di) AS cv
  FROM seed, dimj GROUP BY cid
),
d1_{j} AS (
  SELECT v.vec_id, c.cid,
         SUM((v.qv[{off} + dimj.di] - c.cv[dimj.di])
             * (v.qv[{off} + dimj.di] - c.cv[dimj.di])) AS d2
  FROM q v, c0_{j} c, dimj GROUP BY 1, 2
),
a1_{j} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d1_{j}
  ) WHERE rn = 1
),
s1_{j} AS (
  SELECT a.cid, dimj.di, SUM(v.qv[{off} + dimj.di]) AS s, COUNT(*) AS n
  FROM a1_{j} a JOIN q v USING (vec_id), dimj GROUP BY 1, 2
),
c1new_{j} AS (
  SELECT cid, list(CAST({cmean} AS BIGINT) ORDER BY di) AS cv
  FROM s1_{j} GROUP BY cid
),
c1_{j} AS (
  SELECT c0.cid, COALESCE(cn.cv, c0.cv) AS cv
  FROM c0_{j} c0 LEFT JOIN c1new_{j} cn USING (cid)
),
d2_{j} AS (
  SELECT v.vec_id, c.cid,
         SUM((v.qv[{off} + dimj.di] - c.cv[dimj.di])
             * (v.qv[{off} + dimj.di] - c.cv[dimj.di])) AS d2
  FROM q v, c1_{j} c, dimj GROUP BY 1, 2
),
a2_{j} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2_{j}
  ) WHERE rn = 1
),
lut_{j} AS (
  SELECT c.cid,
         SUM((qmin.qv[{off} + dimj.di] - c.cv[dimj.di])
             * (qmin.qv[{off} + dimj.di] - c.cv[dimj.di])) AS d2
  FROM c1_{j} c, qmin, dimj GROUP BY 1
)""")
    code_cols = ", ".join(
        f"CAST(a2_{j}.cid AS INT) AS code{j}" for j in range(m)
    )
    joins = " ".join(
        f"JOIN a2_{j} ON a2_{j}.vec_id = v.vec_id "
        f"JOIN lut_{j} ON lut_{j}.cid = a2_{j}.cid"
        for j in range(m)
    )
    adc = " + ".join(f"lut_{j}.d2" for j in range(m))
    return f"""
WITH {", ".join(parts)}
SELECT v.vec_id, {code_cols}, CAST({adc} AS BIGINT) AS adc
FROM q v {joins}
"""


# --- event dedup (streaming/dedup.py batch twin) --------------------------


def q_event_dedup(spark, sf_dir):
    """§2.10 companion: the batch twin of the watermarked streaming
    dedup (streaming.dedup.batch_first_occurrence), made non-vacuous
    by unioning a synthetic at-least-once replay (every 5th event
    re-emitted one hour later with a poisoned value) — the operator
    must keep the ORIGINAL row of every key; picking the replay (max,
    arbitrary, or last-wins) flips value/ts and breaks the hash."""
    from pyspark.sql import functions as F

    from mapnik_vector_tile_spark.streaming.dedup import (
        batch_first_occurrence,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    replay = (
        ev.filter(F.col("event_id") % 5 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    out = batch_first_occurrence(ev.unionByName(replay))
    return out.select(
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def sql_event_dedup() -> str:
    return """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
FROM events
"""


# --- SemDeDup (operators.similarity.semdedup) ------------------------------


def q_semdedup(spark, sf_dir):
    """T29 SemDeDup with a FULL oracle: k-means cluster (the bit-exact
    integer-grid Lloyd twin, two unrolled rounds), then within-cluster
    first-occurrence semantic dedup where cos >= 0.95 is decided by
    integer cross-multiplication on the 2^12 grid — dot > 0 AND
    dot^2*den^2 >= num^2*|u|^2*|v|^2, exact BIGINTs in both engines.
    tau 0.40 is corpus-calibrated like q_embedding_neardup (the synth
    embeddings max out at pairwise cos ~0.51, so the API default 0.95
    would gate vacuously); 21 of 500 vectors drop at sf0.01.
    The hash covers every row's (cluster, keep), so a divergence in
    clustering, quantization, the pair predicate, or the keep rule
    breaks it."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.semdedup(_emb(spark, sf_dir), k=8, iters=2, tau_num=40)


def q_proto_prune(spark, sf_dir):
    """T47 prototypicality pruning (similarity.prototype_prune —
    Sorscher et al. keep-the-hardest with a constant per-cluster cap)
    over the embeddings table.  Full oracle: the DuckDB twin reuses
    the q_kmeans assignment replay verbatim, then applies the same
    (d2 DESC, vec_id) rank-cap."""
    from mapnik_vector_tile_spark.operators.similarity import (
        prototype_prune,
    )

    return prototype_prune(_emb(spark, sf_dir))


def sql_proto_prune(cap: int = 40) -> str:
    return f"""
WITH asg AS ({sql_kmeans()}),
rk AS (
  SELECT vec_id, cluster, d2,
         row_number() OVER (
           PARTITION BY cluster ORDER BY d2 DESC, vec_id) AS rnk
  FROM asg)
SELECT vec_id, cluster, d2, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= {cap}
"""


def sql_semdedup(dims: int = 64, tau_num: int = 40, tau_den: int = 100) -> str:
    from mapnik_vector_tile_spark.operators.similarity import SD_SCALE
    from mapnik_vector_tile_spark.plans.shared_sql import (
        round_half_up_nonneg as rhu,
    )

    def rha(x: str) -> str:
        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    sv = rha(f"CAST(v AS DOUBLE) * {float(SD_SCALE)!r}")
    return f"""
WITH asg AS ({sql_kmeans()}),
q2 AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST({sv} AS BIGINT)) AS sv
  FROM embeddings
),
t AS (
  SELECT a.vec_id, a.cluster, q2.sv FROM asg a JOIN q2 USING (vec_id)
),
dim AS (SELECT unnest(range(1, {dims + 1})) AS di),
pr AS (
  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
         SUM(x.sv[dim.di] * y.sv[dim.di]) AS dot,
         SUM(x.sv[dim.di] * x.sv[dim.di]) AS nu,
         SUM(y.sv[dim.di] * y.sv[dim.di]) AS nv
  FROM t x JOIN t y ON x.cluster = y.cluster AND x.vec_id < y.vec_id, dim
  GROUP BY 1, 2
),
dup AS (
  SELECT DISTINCT b_id AS vec_id FROM pr
  WHERE dot > 0 AND dot * dot * {tau_den * tau_den} >= {tau_num * tau_num} * nu * nv
)
SELECT t.vec_id, CAST(t.cluster AS INT) AS cluster,
       dup.vec_id IS NULL AS keep
FROM t LEFT JOIN dup USING (vec_id)
"""


def q_embedding_gram(spark, sf_dir):
    """T22 exact Gram matrix of the int8-quantized embeddings with a
    FULL oracle: one numpy Q^T Q per Arrow batch, d(d+1)/2 triangle
    rows per partition, final tiny sum; DuckDB replays the identical
    quantization chain (the sql_embedding_quantize CTEs) and joins the
    unnested table with itself on vec_id — every int64 entry of the
    64x64 upper triangle sits under the hash."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.embedding_gram(_emb(spark, sf_dir))


def sql_embedding_gram() -> str:
    def rha(x: str) -> str:
        from mapnik_vector_tile_spark.plans.shared_sql import (
            round_half_up_nonneg as rhu,
        )

        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    qv = rha("(CAST(v AS DOUBLE) * 127.0e0) / am")
    return f"""
WITH u AS (
  SELECT vec_id, s.i AS i, embedding[s.i] AS v
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS s(i)),
m AS (SELECT vec_id, MAX(ABS(CAST(v AS DOUBLE))) AS am FROM u GROUP BY 1),
q AS (
  SELECT u.vec_id, u.i,
         CAST(CASE WHEN m.am = 0 THEN 0 ELSE {qv} END AS BIGINT) AS qv
  FROM u JOIN m ON u.vec_id = m.vec_id
)
SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j,
       CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""


def q_ann_twostage(spark, sf_dir):
    """T40 two-stage quantized retrieval with a FULL oracle: LSH
    buckets -> exact int8 prefix-dot top-20 -> exact full-dot top-5;
    DuckDB replays the quantize chain, the hyperplane buckets, and
    both ranked funnels bit-exactly."""
    from mapnik_vector_tile_spark.operators import similarity as S

    return S.twostage_topk(_emb(spark, sf_dir))


def sql_ann_twostage(k: int = 5, m: int = 20, prefix: int = 16) -> str:
    from mapnik_vector_tile_spark.operators.similarity import N_PLANES

    def rha(x: str) -> str:
        from mapnik_vector_tile_spark.plans.shared_sql import (
            round_half_up_nonneg as rhu,
        )

        return (
            f"CASE WHEN ({x}) < 0 THEN -({rhu(f'-({x})')})"
            f" ELSE {rhu(x)} END"
        )

    qv = rha("(CAST(val AS DOUBLE) * 127.0e0) / am")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ed AS (SELECT vec_id, UNNEST(v) AS val, generate_subscripts(v, 1) AS d FROM e),
am_ AS (SELECT vec_id, MAX(ABS(val)) AS am FROM ed GROUP BY 1),
qd AS (
  SELECT ed.vec_id, ed.d,
         CAST(CASE WHEN am_.am = 0 THEN 0 ELSE {qv} END AS BIGINT) AS qv
  FROM ed JOIN am_ ON am_.vec_id = ed.vec_id),
ql AS MATERIALIZED (
  SELECT vec_id, list(qv ORDER BY d) AS q FROM qd GROUP BY vec_id),
pl AS (SELECT p, d,
         ((((p*64 + d - 1) * 2654435761) % 4294967296) / 4294967296.0) - 0.5 AS w
       FROM generate_series(0,{N_PLANES - 1}) t(p), generate_series(1,64) s(d)),
dots AS (SELECT ed.vec_id, pl.p, SUM(ed.val * pl.w) AS dot
         FROM ed JOIN pl ON pl.d = ed.d GROUP BY 1, 2),
bk AS (SELECT vec_id,
              CAST(SUM(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
       FROM dots GROUP BY 1),
eb AS MATERIALIZED (
  SELECT ql.vec_id, ql.q, bk.bucket FROM ql JOIN bk USING (vec_id)),
cand AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
         CAST(list_sum(list_transform(range(1, {prefix} + 1),
              i -> a.q[i] * b.q[i])) AS BIGINT) AS c_pre,
         CAST(list_sum(list_transform(range(1, len(a.q) + 1),
              i -> a.q[i] * b.q[i])) AS BIGINT) AS c_full
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
s1 AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY c_pre DESC, nbr) AS r1
  FROM cand)
SELECT vec_id, nbr, c_pre, c_full, rnk FROM (
  SELECT vec_id, nbr, c_pre, c_full,
         CAST(row_number() OVER (
           PARTITION BY vec_id ORDER BY c_full DESC, nbr) AS BIGINT)
           AS rnk
  FROM s1 WHERE r1 <= {m}
) WHERE rnk <= {k}
"""


def q_pca_power(spark, sf_dir):
    """T43 quantized power iteration (similarity.pca_power) with a
    FULL oracle: DuckDB rebuilds the exact int8 Gram
    (sql_embedding_gram), rescales it onto the same PCA_SCALE grid,
    and replays all 24 renormalized iterations as a list-carrying
    recursive CTE — every operation is BIGINT (symmetric truncating
    division on absolute values), so the Rayleigh pair, the
    positional eigenvector hash and the iterate extrema must match
    bit-for-bit."""
    from mapnik_vector_tile_spark.operators.similarity import pca_power

    return pca_power(_emb(spark, sf_dir))


def sql_pca_power(iters: int = 24) -> str:
    from mapnik_vector_tile_spark.operators.similarity import PCA_SCALE

    gram = sql_embedding_gram().strip()
    assert gram.startswith("WITH ")
    body, tail = gram[len("WITH "):].rsplit("SELECT CAST(a.i - 1", 1)
    sc = PCA_SCALE
    sdiv = (
        "CASE WHEN {x} >= 0 THEN (ABS({x}) * %d) // {m}"
        " ELSE -((ABS({x}) * %d) // {m}) END" % (sc, sc)
    )
    return f"""
WITH RECURSIVE {body.rstrip().rstrip(',')},
tri AS (
  SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j,
         CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
  FROM q a JOIN q b ON b.vec_id = a.vec_id AND b.i >= a.i
  GROUP BY 1, 2),
gfull AS (
  SELECT i, j, g FROM tri
  UNION ALL SELECT j, i, g FROM tri WHERE i <> j),
dd AS (SELECT MAX(j) + 1 AS d FROM tri),
gd AS (SELECT MAX(ABS(g)) // {sc} + 1 AS gdiv FROM gfull),
gn AS (
  SELECT i, j,
         CASE WHEN g >= 0 THEN ABS(g) // gdiv
              ELSE -(ABS(g) // gdiv) END AS gv
  FROM gfull, gd),
gl AS (SELECT list(gv ORDER BY i, j) AS gl FROM gn),
pi(v, r) AS (
  SELECT list_transform(range(0, d), z9 -> CAST({sc} AS BIGINT)), 0
  FROM dd
  UNION ALL
  SELECT CASE WHEN m = 0 THEN v
              ELSE list_transform(w, x -> {sdiv.format(x='x', m='m')})
         END,
         r + 1
  FROM (
    SELECT v, r, w, list_max(list_transform(w, x -> ABS(x))) AS m
    FROM (
      SELECT v, r,
             list_transform(range(0, d), i ->
               list_aggregate(
                 list_transform(range(0, d),
                                j -> gl[i * d + j + 1] * v[j + 1]),
                 'sum')) AS w
      FROM pi, gl, dd WHERE r < {iters}
    ) s1
  ) s2),
fin AS (SELECT v FROM pi WHERE r = {iters}),
wf AS (
  SELECT v,
         list_transform(range(0, d), i ->
           list_aggregate(
             list_transform(range(0, d),
                            j -> gl[i * d + j + 1] * v[j + 1]),
             'sum')) AS w,
         d
  FROM fin, gl, dd)
SELECT CAST(d AS BIGINT) AS d, CAST({iters} AS BIGINT) AS iters,
       CAST(list_aggregate(list_transform(range(0, d),
              i -> v[i + 1] * w[i + 1]), 'sum') AS BIGINT) AS lam_num,
       CAST(list_aggregate(list_transform(v, x -> x * x), 'sum')
            AS BIGINT) AS lam_den,
       CAST(list_aggregate(list_transform(range(0, d),
              i -> (i + 1) * v[i + 1]), 'sum') AS BIGINT) AS vhash,
       CAST(list_max(v) AS BIGINT) AS v_max,
       CAST(list_min(v) AS BIGINT) AS v_min
FROM wf
"""


