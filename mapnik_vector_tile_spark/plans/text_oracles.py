"""DuckDB oracle SQL for the corpus-sampling and sketch operators and
the event-dedup batch twin, plus the Spark query callables they gate.

The Spark side is the DataFrame implementation in operators/{sampling,
sketch} and the batch twin of streaming/dedup; the oracle is
independent ANSI SQL over the same parquet views (`documents`,
`events`). Parity holds because both sides share exact primitives:
splitmix64 row hashes (sampling) and md5-prefix integer hashes
(sketch).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


# --- Spark query callables ----------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


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
        "q_count_min": (q_count_min, sql_count_min()),
        "q_token_quantiles": (q_token_quantiles, sql_token_quantiles()),
    }


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
