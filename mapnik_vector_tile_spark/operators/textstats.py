"""Text-analysis operators over the documents table — language-ID,
quality scoring, token counting, document fingerprinting (task
mandate; training-data-pipeline surface).

Everything is built-in Column algebra (whole-stage codegen, zero
Python) with arithmetic chosen to be bit-identical in DuckDB: integer
ratios divide as int/int -> double in BOTH engines, lambdas
(filter/transform) have identical semantics, and hashes go through the
shared md5-prefix primitive (operators.dedup.h7).

Scale: every operator is a narrow projection or a single
map-side-combining aggregate — they pipeline into the same scan at
100 TB (one pass over the text column, no shuffle except fingerprint's
per-doc groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapnik_vector_tile_spark.operators.dedup import (
    h7,
    shingle_array_col,
    shingles,
    words_col,
)

# Tiny deterministic stopword profiles — the language-ID heuristic.
# (The synthetic corpus is vocabulary-uniform; what the oracle gates is
# the *operator semantics*, not linguistic accuracy.)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "de", "un"),
    "de": ("der", "die", "das", "und", "zu"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}


def _count_in(words, vocab: tuple[str, ...]) -> F.Column:
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def quality_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality features: lengths, token stats, stopword + alpha
    ratios — the classic pre-train quality-filter signals."""
    w = words_col()
    stop = _count_in(w, LANG_PROFILES["en"])
    return docs.select(
        "doc_id",
        F.length("text").alias("len_chars"),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        (
            F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
            / F.length("text")
        ).alias("alpha_ratio"),
        (stop / F.size(w)).alias("stopword_ratio"),
        (
            F.length(F.regexp_replace(F.col("text"), " ", ""))
            / F.size(w)
        ).alias("avg_word_len"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy: tokens further split at
    4-char boundaries (ceil(len/4) pieces per word — deterministic,
    vocabulary-free)."""
    w = words_col()
    pieces = F.aggregate(
        F.transform(w, lambda t: (F.length(t) + 3).cast("long") / F.lit(4)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.floor(v),
    )
    return docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        pieces.alias("n_subtokens"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score per language = profile hits;
    prediction = argmax with fixed profile order as tiebreak."""
    w = words_col()
    scores = {lang: _count_in(w, vocab) for lang, vocab in LANG_PROFILES.items()}
    langs = list(LANG_PROFILES)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    sel = [docs["doc_id"], best.alias("pred_lang")]
    sel += [scores[lang].cast("long").alias(f"score_{lang}") for lang in langs]
    return docs.select(*sel)


def fingerprints(docs: DataFrame, n: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: hash every word n-gram
    window (shared H7 primitive), keep MIN + distinct-window count —
    rolling-hash dedup signature, one map-side-combining groupBy."""
    sh = shingles(docs, n).withColumn("wh", h7(F.col("shingle")))
    return sh.groupBy("doc_id").agg(
        F.min("wh").alias("fp_min"),
        F.count_distinct("wh").alias("fp_card"),
    )


def topk_tokens(docs: DataFrame, k: int = 100) -> DataFrame:
    """Exact corpus heavy hitters: (rnk, token, n) — top-k tokens by
    total occurrences, deterministic tiebreak (count DESC, token ASC).

    Scale shape: the explode is narrow; the count partial-aggregates
    map-side so the shuffle carries distinct tokens, not occurrences;
    the global top-k compiles to TakeOrderedAndProject (per-partition
    top-k, k rows to the driver merge) — no full sort shuffle. The
    window rank runs on k rows only."""
    from pyspark.sql import Window

    w = docs.select(F.explode(words_col()).alias("token"))
    counts = w.groupBy("token").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    rnk = F.row_number().over(
        Window.orderBy(F.desc("n"), F.asc("token"))
    )
    return top.select(
        rnk.cast("long").alias("rnk"),
        "token",
        F.col("n").cast("long").alias("n"),
    )


def repetition_stats(docs: DataFrame, ns: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Intra-document repetition features — the Gopher/MassiveText
    quality-gate family (Rae et al. 2021 §A1.1: "fraction of duplicate
    n-grams" and "fraction occupied by the most frequent n-gram"):
    LONG format, one row per (doc_id, n) with

      total      — n-gram occurrences in the doc
      n_distinct — distinct n-grams
      dup_frac   — 1 − distinct/total (0 ⇔ no internal repetition)
      top_frac   — most frequent n-gram's share of all occurrences

    Docs shorter than n words emit no row for that n (no n-grams
    exist — same convention as dedup.shingles).

    Plan at 100 TB: ONE scan of the corpus — the per-n gram arrays
    (dedup.shingle_array_col, the same Column the dedup pipeline uses)
    are tagged with n and flattened inside the projection, so the
    three n legs do NOT become three scans — then explode → two hash
    aggregates, BOTH map-side partial (no distinct-Expand, same shape
    as dup_ngram_spans); the per-(doc, n, gram) key is
    high-cardinality but uniform, and the second agg carries one row
    per (doc, n). Fractions are int/int → double, the
    cross-engine-exact division this module pins."""

    def tagged(n: int) -> F.Column:
        # factory, not a loop-captured lambda: F.transform feeds the
        # array INDEX to a second lambda parameter, so default-arg
        # binding of n would silently receive the position
        return F.transform(
            shingle_array_col(n),
            lambda g: F.struct(
                F.lit(n).cast("int").alias("n"), g.alias("gram")
            ),
        )

    pairs = F.flatten(F.array(*[tagged(n) for n in ns]))
    g = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.n").alias("n"), F.col("p.gram").alias("gram")
    )
    c = g.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    return (
        c.groupBy("doc_id", "n")
        .agg(
            F.sum("c").cast("long").alias("total"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top"),
        )
        .select(
            "doc_id",
            "n",
            "total",
            "n_distinct",
            (F.lit(1.0) - F.col("n_distinct") / F.col("total")).alias(
                "dup_frac"
            ),
            (F.col("top") / F.col("total")).alias("top_frac"),
        )
    )


# Okapi BM25 defaults (Robertson & Walker; the universal k1/b choice).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = ("spark", "merge", "window"),
    k: int = 100,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 retrieval: rank documents against a constant query
    term set; return the top-k with per-term tf and the score.

      idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
      score   = Σ_t idf(t) · tf_t·(k1+1) / (tf_t + k1·(1-b + b·dl/avgdl))

    Plan at 100 TB: per-doc tf for the (small, constant) query term set
    is array-lambda Column algebra inside the scan projection — NO
    explode, NO per-token shuffle. Corpus stats (N, Σdl, df_t) are ONE
    map-side-combining global aggregate producing a single row, joined
    back via broadcast nested loop (1-row build side). The final top-k
    compiles to TakeOrderedAndProject — per-partition heap, k rows to
    the driver merge, no global sort shuffle.

    Cross-engine determinism: score is a fixed-order sum of terms whose
    factors are int-derived doubles plus one ln() — the same ln the
    mercator oracle (plans/oracle_pairs.py q_tile_assign_z14) already
    proves bit-identical between the JVM and DuckDB on this host. Ties
    break on doc_id, so the LIMIT frontier is a total order."""
    words = words_col()

    def eq(term: str):
        # closure factory, NOT a default-arg lambda: a second lambda
        # param would make F.filter pass the array INDEX into it (the
        # same trap repetition_stats documents for F.transform)
        return lambda w: w == F.lit(term)

    tf_cols = [
        F.size(F.filter(words, eq(t))).cast("long").alias(f"tf_{t}")
        for t in terms
    ]
    per = docs.select(
        "doc_id", F.size(words).cast("long").alias("dl"), *tf_cols
    )
    stats = per.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long"))
            .cast("long")
            .alias(f"df_{t}")
            for t in terms
        ],
    )
    j = per.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)
    )
    score = F.lit(0.0)
    for t in terms:
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = F.log(
            F.lit(1.0) + ((F.col("n_docs") - df) + F.lit(0.5)) / (df + F.lit(0.5))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
    scored = j.select("doc_id", "dl", *[f"tf_{t}" for t in terms],
                      score.alias("score"))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql import Window

    rnk = F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
    return top.select(rnk.cast("long").alias("rnk"), "doc_id", "dl",
                      *[f"tf_{t}" for t in terms], "score")


# (pattern, placeholder) in FIXED application order: emails first,
# then IPv4 (digit-and-dot shaped), then phones (digit-and-dash) —
# each later pattern runs on text where earlier matches are already
# placeholders, so patterns can never partially consume each other's
# matches. Constructs are restricted to the Java-regex/RE2 common
# subset (char classes, \d, \b, bounded repeats) so the Spark and
# DuckDB engines match identically.
PII_RULES = (
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phones", r"\+?\d{1,3}[- ]\d{3}[- ]\d{4}", "[PHONE]"),
)


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """T23: PII detection + redaction — the scrubbing pass every
    training-data pipeline runs before text leaves the trust boundary.
    Counts per category are measured on the ORIGINAL text; the
    redacted column applies the placeholder rewrites in PII_RULES
    order. Pure Column regexp math (regexp_count/regexp_replace run
    JVM-side inside codegen): a narrow projection, no UDF, no shuffle,
    linear at 100 TB. Adds n_emails / n_ipv4 / n_phones (int) and
    `redacted` (string)."""
    c = F.col(text_col)
    out = docs
    red = c
    for name, pat, tag in PII_RULES:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(c, F.lit(pat)).cast("int")
        )
        red = F.regexp_replace(red, pat, tag)
    return out.withColumn("redacted", red)


# --- T31: count-based bigram LM scoring --------------------------------------


def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Count-based bigram language-model quality scoring (the CCNet /
    Wenzek et al. 2020 signal shape: score each document under an
    n-gram LM and gate on the score distribution). The LM is the MLE
    bigram model of the corpus itself: p(w2 | w1) = c(w1 w2) / c(w1 ·),
    both counts from one pass over the corpus, so every observed
    bigram has p > 0 and no smoothing is needed for self-scoring.

    BIT-EXACT across engines by construction — no transcendentals
    (libm log/exp differ by ulps between JVM and C; a perplexity
    would not hash). Instead the per-doc summary is built from IEEE
    correctly-rounded ops only, which ARE cross-engine deterministic:

    * terms are grouped by the (integer) denominator first —
      sum_prob = Σ_{distinct c1f} (Σ c2) / c1f — the numerator sum is
      exact BIGINT math, each division is one correctly-rounded op,
      and the outer sum folds in ascending-c1f order via
      F.aggregate / list_reduce (identical association order);
    * min_prob is a MIN over identically-rounded divisions
      (order-free);
    * n_rare counts bigrams with p < 1/8 by the INTEGER predicate
      8·c2 < c1f (no float compare at all).

    A production gate applies log driver-side to sum_prob/mean_prob;
    the distributed part stays transcendental-free.

    Scale shape: explode → two count aggs (map-side combined) → two
    equi-joins back (gram/prefix keys; broadcast when the vocabulary
    fits, AQE shuffle join otherwise) → one per-(doc, c1f) partial agg
    → one per-doc agg whose collect_list is bounded by the number of
    DISTINCT denominators in the doc (≤ distinct prefixes, not
    bigrams). Docs with < 2 tokens have no bigrams and are absent."""
    w = F.split(F.col(text_col), " ")
    toks = docs.select(F.col(id_col), w.alias("w")).filter(F.size("w") >= 2)
    grams = F.zip_with(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        F.slice(F.col("w"), 2, F.size("w") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = toks.select(id_col, F.explode(grams).alias("gram")).withColumn(
        "prefix", F.split(F.col("gram"), " ").getItem(0)
    )
    c2 = bi.groupBy("gram").agg(F.count("*").alias("c2"))
    c1 = bi.groupBy("prefix").agg(F.count("*").alias("c1f"))
    inst = bi.join(c2, "gram").join(c1, "prefix")
    grp = inst.groupBy(id_col, "c1f").agg(
        F.sum("c2").alias("sc2"),
        F.count("*").alias("n"),
        F.min(F.col("c2").cast("double") / F.col("c1f")).alias("minp"),
        F.sum((F.lit(8) * F.col("c2") < F.col("c1f")).cast("long")).alias(
            "rare"
        ),
    )
    terms = F.aggregate(
        F.sort_array(F.collect_list(F.struct("c1f", "sc2"))),
        F.lit(0.0),
        lambda acc, s: acc
        + s.getField("sc2").cast("double") / s.getField("c1f"),
    )
    return grp.groupBy(id_col).agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        terms.alias("sum_prob"),
        F.min("minp").alias("min_prob"),
        F.sum("rare").cast("long").alias("n_rare"),
    ).withColumn("mean_prob", F.col("sum_prob") / F.col("n_bigrams"))


def ccnet_buckets(
    docs: DataFrame,
    k_sample: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """T48: CCNet quality-bucket corpus partitioning (Wenzek et al.
    2020, arXiv:1911.00359): score every document under a corpus
    bigram LM, estimate per-LANGUAGE score terciles on a bounded
    deterministic sample (CCNet itself computes its perplexity
    quantiles on a sample, not the full corpus), and split each
    language into head / middle / tail.

    Signal note (documented narrowing): CCNet buckets by LM
    perplexity ascending; this operator buckets by bigram_lm_score's
    mean-probability DESCENDING — the same construction with the
    repo's hash-gateable, transcendental-free score standing in for
    exp/log perplexity (Σ log p and Σ p order differently in general;
    the bucket machinery, per-language quantile estimation, and
    three-way split are the paper's).

    Determinism: the sample is the K lowest splitmix64-hash docs per
    language (ties by id); thresholds are the ceil(n/3)- and
    ceil(2n/3)-th ascending order statistics of the sampled scores;
    bucketing compares IEEE doubles both engines computed
    identically (the q_bigram_lm oracle pins that).

    Scale shape (100 TB): scoring is bigram_lm_score's shape; the
    per-language sample is ``row_number() <= K`` over the hash order
    with CONSTANT K (map-side WindowGroupLimit); thresholds are
    <= 2·|languages| scalars collected driver-side (the
    bounded-summary pattern) and re-entered as broadcast CASE
    literals; bucket assignment is map-side. Docs with < 2 tokens
    carry no bigrams and are absent (CCNet drops unscorable docs)."""
    from pyspark.sql import Window

    from mapnik_vector_tile_spark.operators.sampling import (
        with_sample_hash,
    )

    scored = bigram_lm_score(docs, text_col=text_col, id_col=id_col)
    sc = scored.join(docs.select(id_col, lang_col), id_col)
    w = Window.partitionBy(lang_col).orderBy("hord", id_col)
    samp = (
        with_sample_hash(sc, id_col)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_sample)
        .select(lang_col, "mean_prob")
    )
    by_lang: dict[str, list[float]] = {}
    for r in samp.collect():
        by_lang.setdefault(r[0], []).append(float(r[1]))
    expr_lo = None
    expr_hi = None
    for lang in sorted(by_lang):
        vals = sorted(by_lang[lang])
        n = len(vals)
        t_lo = vals[(n + 2) // 3 - 1]
        t_hi = vals[(2 * n + 2) // 3 - 1]
        cond = F.col(lang_col) == lang
        expr_lo = (
            F.when(cond, F.lit(t_lo))
            if expr_lo is None
            else expr_lo.when(cond, F.lit(t_lo))
        )
        expr_hi = (
            F.when(cond, F.lit(t_hi))
            if expr_hi is None
            else expr_hi.when(cond, F.lit(t_hi))
        )
    if expr_lo is None:
        raise ValueError("ccnet_buckets: empty scorable corpus")
    return sc.select(
        id_col,
        lang_col,
        F.when(F.col("mean_prob") <= expr_lo, F.lit("tail"))
        .when(F.col("mean_prob") > expr_hi, F.lit("head"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
        "n_bigrams",
        "mean_prob",
    )


# --- T32: boilerplate line removal (CCNet paragraph dedup) -------------------


def remove_boilerplate(
    docs: DataFrame,
    min_docs: int = 10,
    sep: str = "\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al. 2020 paragraph
    dedup): a line/paragraph that appears VERBATIM in >= min_docs
    DISTINCT documents is boilerplate (footers, cookie banners,
    navigation) and is deleted from every document; surviving lines
    are re-joined in their original order. Documents whose every line
    is boilerplate vanish (CCNet drops them).

    This is frequency-based removal across the corpus — the
    complement of chunk_dedup (first-occurrence within-corpus dedup):
    chunk_dedup keeps one copy somewhere; boilerplate removal keeps
    ZERO copies of the over-represented line.

    Scale shape: one explode, one map-side-combined
    (line -> distinct-doc count) aggregation, then the boilerplate
    set — which is SMALL by construction (only lines crossing the
    threshold) — broadcasts back as a left-anti join, and one per-doc
    rebuild agg whose collect_list is the doc's own lines. The big
    table is never joined to itself. Output: (doc_id, clean_text,
    n_kept, n_removed)."""
    import re

    # F.split takes a REGEX; the separator contract here is a literal
    # (DuckDB's string_split is literal too), so escape it
    pat = re.escape(sep)
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pat, -1)).alias("pos", "line"),
    )
    bp = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(bp), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), pat, -1)).cast("long").alias(
            "_n_total"
        ),
    )
    return (
        rebuilt.join(totals, id_col)
        .withColumn("n_removed", F.col("_n_total") - F.col("n_kept"))
        .drop("_n_total")
    )


# --- T10b WordPiece-style subword tokenizer ---------------------------------

# Committed subword vocabulary (the BPE/WordPiece "model file" — in a
# production pipeline this is learned offline and shipped as an
# artifact; here it is pinned so both engines and every run agree).
# Token id = 1-based position in THIS list. Single characters make the
# tokenizer total (any [a-z0-9] word segments); multi-char pieces give
# real greedy-longest-match behavior on the corpus vocabulary.
WP_VOCAB: tuple[str, ...] = tuple(
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [str(d) for d in range(10)]
    + [
        # 2-char pieces
        "jo", "in", "ha", "sh", "ch", "er", "ge", "le", "ue", "rk",
        "up", "qu", "et", "ll", "ba",
        # 3-char pieces
        "row", "bat", "sca", "cus", "tom", "col", "umn", "fil", "ter",
        "sma", "slo", "mer", "ord", "vec", "tor", "lin", "dat", "tab",
        "agg", "val", "key", "str", "eam", "win", "dow", "spa", "gro",
        "par",
        # 4-char pieces (exercise the longest-first branch over their
        # own 2/3-char prefixes above)
        "hash", "join", "scan", "slow", "fast", "line", "data",
    ]
)
WP_MAX_WORD = 8  # committed corpus bound; longer words raise (guarded)


def _wp_vocab_literal(engine: str) -> str:
    items = ", ".join(f"'{p}'" for p in WP_VOCAB)
    return f"array({items})" if engine == "spark" else f"[{items}]"


def _wp_pos(engine: str, vocab_ref: str, x: str) -> str:
    """1-based vocab position of expression x, 0 when absent — the one
    dialect split (Spark returns 0 for absent, DuckDB returns NULL)."""
    if engine == "spark":
        return f"array_position({vocab_ref}, {x})"
    return f"COALESCE(list_position({vocab_ref}, {x}), 0)"


def wp_step_exprs(engine: str, vocab_ref: str, word: str, cur: str) -> dict:
    """ONE greedy step of longest-match-first WordPiece at cursor
    ``cur`` (1-based) — the single spec both engines render (same
    pattern as functions/geohash.py): try piece lengths 4,3,2 gated on
    enough characters remaining, fall back to the single character
    (id 0 = unk when even that is out-of-vocab; length still 1 so the
    scan always advances). Returns SQL strings for (len, tok)."""
    rem = f"(length({word}) - ({cur}) + 1)"
    p = {
        k: _wp_pos(engine, vocab_ref, f"substr({word}, {cur}, {k})")
        for k in (4, 3, 2, 1)
    }
    gate = f"({cur}) <= length({word})"
    len_e = (
        f"CASE WHEN NOT ({gate}) THEN 0"
        f" WHEN {rem} >= 4 AND {p[4]} > 0 THEN 4"
        f" WHEN {rem} >= 3 AND {p[3]} > 0 THEN 3"
        f" WHEN {rem} >= 2 AND {p[2]} > 0 THEN 2"
        f" ELSE 1 END"
    )
    tok_e = (
        f"CASE WHEN NOT ({gate}) THEN 0"
        f" WHEN {rem} >= 4 AND {p[4]} > 0 THEN {p[4]}"
        f" WHEN {rem} >= 3 AND {p[3]} > 0 THEN {p[3]}"
        f" WHEN {rem} >= 2 AND {p[2]} > 0 THEN {p[2]}"
        f" ELSE {p[1]} END"
    )
    return {"len": len_e, "tok": tok_e}


def wordpiece_tokens(docs: DataFrame) -> DataFrame:
    """T10b subword tokenization — the REAL token-counting stage of a
    training pipeline (T10's regex count approximates it): greedy
    longest-match-first segmentation against the committed WP_VOCAB
    (the BERT-WordPiece inference rule; continuation markers elided —
    documented simplification), unrolled WP_MAX_WORD steps as pure
    Catalyst CASE/substr/array_position expressions generated from ONE
    spec (`wp_step_exprs`) shared verbatim with the DuckDB twin — no
    UDF, no Python, the whole per-word scan is one codegen projection.

    Plan at 100 TB: explode(split) → 8 collapsed projections → ONE
    map-side-combined hash aggregate per doc. Words longer than the
    committed WP_MAX_WORD bound would silently truncate, so they are
    counted and surfaced (`n_overlong` must be 0 on a conforming
    corpus — the driver corpus maxes at 8).

    Output: (doc_id, n_words, n_subwords, tok_id_sum, n_overlong)."""
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    words = words.withColumn(
        "V", F.expr(_wp_vocab_literal("spark"))
    )
    cur = "CAST(1 AS INT)"
    lens, toks = [], []
    for s in range(WP_MAX_WORD):
        e = wp_step_exprs("spark", "V", "w", cur)
        words = (
            words.withColumn(f"_l{s}", F.expr(e["len"]))
            .withColumn(f"_t{s}", F.expr(e["tok"]))
            .withColumn(f"_c{s}", F.expr(f"({cur}) + _l{s}"))
        )
        cur = f"_c{s}"
        lens.append(f"_l{s}")
        toks.append(f"_t{s}")
    n_sub = " + ".join(f"(CASE WHEN {c} > 0 THEN 1 ELSE 0 END)" for c in lens)
    tok_sum = " + ".join(toks)
    per_word = words.selectExpr(
        "doc_id",
        f"{n_sub} AS n_sub",
        f"{tok_sum} AS tok_sum",
        f"CASE WHEN length(w) > {WP_MAX_WORD} THEN 1 ELSE 0 END AS overlong",
    )
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        F.sum("tok_sum").cast("long").alias("tok_id_sum"),
        F.sum("overlong").cast("long").alias("n_overlong"),
    )


def bpe_train(docs: DataFrame, rounds: int = 8) -> DataFrame:
    """Distributed byte-pair-encoding merge learning (Sennrich et al.
    2016, "Neural Machine Translation of Rare Words with Subword
    Units") — the tokenizer-training primitive every LLM data pipeline
    runs before tokenizing a corpus.

    Scale shape: the corpus is touched ONCE, by a map-side-combining
    word-frequency aggregate (distinct-word table ≪ corpus — the
    classic BPE trick: pair statistics are word-frequency-weighted, so
    all R merge rounds run over the vocabulary table, not the text).
    Per round: one narrow pair-explode + hash aggregate and a global
    arg-max via TakeOrderedAndProject (top-1, no full sort); the
    driver receives exactly ONE row per round (the chosen merge — a
    scalar witness, same pattern as dedup's CC convergence scalar).

    The merge step is a pure-Column string `replace` on the
    delimiter form "|t1|t2|...|tn|": replacing "|a|b" with "|ab"
    performs exactly the leftmost non-overlapping adjacent-pair merge
    BPE specifies (the leading "|" anchors token starts, so a pair
    can never match across a token boundary or inside a longer
    token), and `replace` has identical scan semantics in Spark and
    DuckDB — the cross-engine-exactness hinge.

    Ties in the arg-max are pinned (count DESC, pair lexicographic
    ASC), else shard order would leak into the learned vocabulary.

    Output: one row per learned merge — (round, p1, p2, cnt)."""
    spark = docs.sparkSession
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit("|"), F.regexp_replace("w", "(.)", "$1|")
            ).alias("s"),
            "cnt",
        )
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    for r in range(1, rounds + 1):
        toks = cur.select(
            F.filter(F.split("s", "\\|"), lambda x: x != "").alias("t"),
            "cnt",
        )
        pairs = toks.select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> struct(x AS p1, t[i + 1] AS p2))"
                )
            ).alias("p"),
            "cnt",
        ).select("p.p1", "p.p2", "cnt")
        top = (
            pairs.groupBy("p1", "p2")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "p1", "p2")
            .limit(1)
            .collect()
        )
        if not top:
            break
        p1, p2, c = top[0]["p1"], top[0]["p2"], int(top[0]["c"])
        merges.append((r, p1, p2, c))
        cur = cur.select(
            F.replace(
                F.col("s"),
                F.lit("|" + p1 + "|" + p2),
                F.lit("|" + p1 + p2),
            ).alias("s"),
            "cnt",
        )
    schema = StructType(
        [
            StructField("round", LongType()),
            StructField("p1", StringType()),
            StructField("p2", StringType()),
            StructField("cnt", LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


SPAN_MIX = 1000003  # position-mixing multiplier for the corruption coin


def span_corruption_stats(docs: DataFrame, rate_pct: int = 15) -> DataFrame:
    """T32 T5-style span corruption accounting (Raffel et al. 2020):
    every word position flips an independent deterministic coin
    (splitmix64(doc_id·1000003 + pos) % 100 < rate_pct → dropped);
    consecutive dropped words form ONE sentinel span (the T5 noise
    target). This operator computes the corruption layout — the
    pipeline step that sizes encoder/decoder sequences before
    tokenization:

      n_words, n_dropped, n_spans (= sentinel count), and
      kh = Σ over KEPT positions (pos+1)·length(word) mod 2³¹ — a
      position-sensitive witness of exactly which words survive.

    Pure Column + one window lag (span starts) + one map-side-partial
    aggregate; the per-position coin is the engine's standard
    vectorized splitmix pandas_udf. One doc_id shuffle."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType

    import pandas as pd

    def _coin_kernel(keys):
        import numpy as np

        from mapnik_vector_tile_spark.sources.synth import splitmix64

        h = splitmix64(keys.to_numpy(np.uint64))
        return pd.Series((h % np.uint64(100)).astype(np.int64))

    coin = F.pandas_udf(_coin_kernel, LongType())

    w = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
        )
        .filter(F.col("w") != "")
        .withColumn(
            "dropped",
            (
                coin(F.col("doc_id") * F.lit(SPAN_MIX) + F.col("pos"))
                < F.lit(rate_pct)
            ).cast("int"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    marked = w.withColumn(
        "span_start",
        (
            (F.col("dropped") == 1)
            & (F.coalesce(F.lag("dropped").over(win), F.lit(0)) == 0)
        ).cast("long"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("dropped").cast("long").alias("n_dropped"),
        F.sum("span_start").cast("long").alias("n_spans"),
        (
            F.sum(
                F.when(
                    F.col("dropped") == 0,
                    (F.col("pos") + 1) * F.length("w"),
                ).otherwise(F.lit(0))
            )
            % F.lit(1 << 31)
        ).cast("long").alias("kh"),
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 5,
    scale: int = 10**6,
) -> DataFrame:
    """T39 collocation mining — PMI-ranked adjacent bigrams (Church &
    Hanks '89; the phrase-table / tokenizer-merge-candidate signal
    corpus pipelines compute before multi-word tokenization), kept
    integer-exact AND int64-safe: the PMI ordering p(ab)/(p(a)p(b))
    is ranked by the two-quotient score
        ((c_ab·√scale) div c_a) · ((N·√scale) div c_b)
    — floor rounding PER FACTOR (documented; this is the score
    definition, replayed identically by the DuckDB twin), no log, no
    float, deterministic (score DESC, a, b) top-k.  Every
    intermediate is provably < 2^63: the first factor ≤ √scale
    (c_ab ≤ c_a always), the second ≤ N·√scale/min_count, and an
    explicit raise_error gate on N (the semdedup norm-gate idiom)
    rejects corpora where N·scale/min_count would wrap instead of
    silently corrupting the ranking (the old single-product form
    c_ab·N·scale wrapped past ~9.2e12·c_ab tokens).

    Plan at 100 TB: one explode for bigram partial counts, one for
    unigrams (both map-side combined), two BROADCAST joins against
    the unigram vocab (vocab-sized, not corpus-sized), a 1-row N
    broadcast, one TakeOrdered top-k — the corpus is scanned twice
    and shuffled only as counts."""
    import math

    from pyspark.sql import Window

    hs = math.isqrt(scale)
    if hs * hs != scale:
        raise ValueError(
            f"collocations: scale {scale} must be a perfect square "
            "(the score splits it as two sqrt(scale) factors)"
        )
    if min_count < 1:
        raise ValueError("collocations: min_count must be >= 1")
    # Two bounds, both required: the PRODUCT bound
    # N·scale/min_count < 2^63 keeps the final two-quotient score
    # exact, and the INTERMEDIATE bound N·√scale < 2^63 keeps the
    # factors themselves from wrapping (c_ab ≤ N, so c_ab·hs ≤ N·hs
    # is covered too).  The product bound alone is insufficient when
    # min_count > √scale: n_lim would then exceed 2^63/hs and N·hs
    # could wrap before the gate trips.
    i64 = (1 << 63) - 1
    n_lim = min(i64 * min_count // (hs * hs), i64 // hs)

    w = F.split(F.col(text_col), " ")
    toks = docs.select(F.explode(w).alias("a"))
    uni = toks.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("c_a")
    )
    nn = toks.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.when(
            F.col("n") > F.lit(n_lim),
            F.raise_error(
                F.format_string(
                    "collocations: corpus of %d tokens exceeds the "
                    f"exact-int64 gate {n_lim} for scale {scale} / "
                    f"min_count {min_count} — raise min_count or "
                    "lower scale",
                    F.col("n"),
                )
            ).cast("long"),
        ).otherwise(F.col("n")).alias("n")
    )
    pairs = docs.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(split({text_col}, ' ')) - 1),"
                f" i -> struct(element_at(split({text_col}, ' '), i) AS a,"
                f" element_at(split({text_col}, ' '), i + 1) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    big = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    ).filter(F.col("c_ab") >= min_count)
    scored = (
        big.join(F.broadcast(uni), "a")
        .join(
            F.broadcast(uni.select(F.col("a").alias("b"),
                                   F.col("c_a").alias("c_b"))),
            "b",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "a",
            "b",
            "c_ab",
            F.expr(
                f"((c_ab * {hs}) div c_a) * ((n * {hs}) div c_b)"
            ).alias("score"),
        )
    )
    rw = Window.orderBy(F.col("score").desc(), "a", "b")
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= k)
    )
