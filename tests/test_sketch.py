"""KMV distinct-count sketch (operators.sketch): estimator accuracy,
graceful small-cardinality behavior, shard mergeability, and the
scale-critical plan shape (TakeOrdered, not a full sort shuffle)."""

from pyspark.sql import functions as F

from mapnik_vector_tile_spark.operators import sketch


def _plan(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def test_kmv_estimate_within_bound(spark):
    """n=20000 distinct, k=256: KMV standard error is ~1/sqrt(k-2)
    ≈ 6.3%; assert within 4 sigma (deterministic corpus — this pins
    the realized error, it cannot flake)."""
    df = spark.range(20000).select(F.col("id").alias("v"))
    row = sketch.kmv_distinct(df, "v", k=256).collect()[0]
    assert row.k == 256 and row.n_used == 256
    assert abs(row.est_distinct - 20000) / 20000 < 0.25


def test_kmv_small_cardinality_degrades_to_near_exact(spark):
    df = spark.range(1000).select((F.col("id") % 50).alias("v"))
    row = sketch.kmv_distinct(df, "v", k=256).collect()[0]
    assert row.n_used == 50  # fewer distinct than k: all hashes kept


def test_kmv_shards_merge_associatively(spark):
    """Union of two shard sketches re-limited to k equals the sketch
    of the union — the property that makes KMV incremental."""
    a = spark.range(0, 6000).select(F.col("id").alias("v"))
    b = spark.range(4000, 12000).select(F.col("id").alias("v"))
    k = 128
    merged = (
        sketch.kmv_hashes(a, "v", k)
        .unionByName(sketch.kmv_hashes(b, "v", k))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )
    direct = sketch.kmv_hashes(a.unionByName(b), "v", k)
    assert [r.hv for r in merged.collect()] == [
        r.hv for r in direct.collect()
    ]


def test_kmv_plan_uses_takeordered_not_full_sort(spark):
    """The global k-smallest must compile to TakeOrderedAndProject
    (per-partition top-k, k rows to the driver) — a full Sort+Exchange
    would shuffle the entire distinct hash set at 100 TB."""
    df = spark.range(100000).select(F.col("id").alias("v"))
    plan = _plan(sketch.kmv_hashes(df, "v", k=256))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_group_quantiles_match_numpy(spark):
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.sketch import group_quantiles

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], size=500),
            "v": rng.randint(0, 10_000, size=500).astype("int64"),
        }
    )
    out = {
        r.g: r
        for r in group_quantiles(
            spark.createDataFrame(pdf), "g", "v",
            qs=(0.5, 0.9, 0.99), names=("p50", "p90", "p99"),
        ).collect()
    }
    for g, sub in pdf.groupby("g"):
        v = np.sort(sub["v"].to_numpy())
        n = len(v)
        row = out[g]
        assert row.n_rows == n
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            assert getattr(row, col) == v[int(np.floor((n - 1) * q))], (g, q)


def test_group_quantiles_single_row_group(spark):
    import pandas as pd

    from mapnik_vector_tile_spark.operators.sketch import group_quantiles

    df = spark.createDataFrame(pd.DataFrame({"g": ["x"], "v": [42]}))
    row = group_quantiles(df, "g", "v").collect()[0]
    assert (row.n_rows, row.p50, row.p90, row.p99) == (1, 42, 42, 42)


def test_global_quantiles_match_numpy(spark):
    import numpy as np
    import pandas as pd

    from mapnik_vector_tile_spark.operators.sketch import global_quantiles

    rng = np.random.RandomState(11)
    vals = np.concatenate(
        [rng.uniform(0, 100, 4000), rng.uniform(5000, 5001, 25)]
    )
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    row = global_quantiles(df, "v", qs=(0.5, 0.9, 0.999)).collect()[0]
    sv = np.sort(vals)
    n = len(sv)
    assert row.n_rows == n
    for q, col in ((0.5, "p50"), (0.9, "p90"), (0.999, "p99_9")):
        assert getattr(row, col) == sv[int(np.floor((n - 1) * q))], q


def test_global_quantiles_heavy_ties_and_constant(spark):
    import pandas as pd

    from mapnik_vector_tile_spark.operators.sketch import global_quantiles

    # 90% one value: the median bucket is a heavy-ties bucket
    vals = [3.0] * 900 + [float(i) for i in range(100)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    row = global_quantiles(df, "v", qs=(0.5, 0.99)).collect()[0]
    import numpy as np

    sv = np.sort(np.array(vals))
    assert row.p50 == sv[int(np.floor(999 * 0.5))]
    assert row.p99 == sv[int(np.floor(999 * 0.99))]
    const = spark.createDataFrame(pd.DataFrame({"v": [7] * 10}))
    r2 = global_quantiles(const, "v").collect()[0]
    assert (r2.p50, r2.p99) == (7.0, 7.0)


def test_count_min_one_sided_and_exact_structure(spark):
    """T35: estimates never undercount, equal counts in a collision
    bucket sum, and a vocabulary smaller than the width with d rows
    reproduces exact counts (no spurious collisions on 3 tokens)."""
    from mapnik_vector_tile_spark.operators.sketch import (
        count_min_estimates,
    )

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c"), (3, "a c c")], ["doc_id", "text"]
    )
    out = {
        r.token: (r.exact_n, r.est_n)
        for r in count_min_estimates(docs, d=4, width=1024, top=10).collect()
    }
    assert out == {"a": (4, 4), "b": (2, 2), "c": (3, 3)}

    # width 1 (degenerate): every row's single counter is the total
    # token mass -> est = 9 for every token, still one-sided
    out1 = {
        r.token: r.est_n
        for r in count_min_estimates(docs, d=2, width=1, top=10).collect()
    }
    assert out1 == {"a": 9, "b": 9, "c": 9}


def test_hll_estimate_within_bound(spark):
    """n=20000 distinct, m=1024 registers: HLL standard error is
    ~1.04/sqrt(m) ≈ 3.25%; assert the realized error within 4 sigma
    (deterministic corpus — pins the value, cannot flake)."""
    df = spark.range(20000).select(F.col("id").alias("v"))
    row = sketch.hll_distinct(df, "v", p=10).collect()[0]
    assert row.m == 1024
    assert abs(row.est_raw - 20000) / 20000 < 0.13
    # denominator stayed within the int64 scaling budget
    assert 0 < row.s_scaled <= 1024 * (1 << 47)


def test_hll_registers_merge_by_max(spark):
    """Element-wise MAX of two shard register tables equals the
    register table of the union — the merge law that makes HLL
    incremental across corpus builds."""
    a = spark.range(0, 6000).select(F.col("id").alias("v"))
    b = spark.range(4000, 12000).select(F.col("id").alias("v"))
    merged = (
        sketch.hll_registers(a, "v")
        .unionByName(sketch.hll_registers(b, "v"))
        .groupBy("b")
        .agg(F.max("reg").alias("reg"))
    )
    direct = sketch.hll_registers(a.unionByName(b), "v")
    assert {(r.b, r.reg) for r in merged.collect()} == {
        (r.b, r.reg) for r in direct.collect()
    }


def test_hll_empty_and_tiny(spark):
    """Empty input: all m registers empty, s_scaled = m * 2^(w+1),
    est 0-ish (the raw estimate's known small-range bias — v_zero is
    reported for caller-side linear counting). One value: v_zero=m-1."""
    empty = spark.range(0).select(F.col("id").alias("v"))
    r = sketch.hll_distinct(empty, "v").collect()[0]
    assert r.v_zero == 1024 and r.s_scaled == 1024 * (1 << 47)
    one = spark.range(1).select(F.col("id").alias("v"))
    r1 = sketch.hll_distinct(one, "v").collect()[0]
    assert r1.v_zero == 1023
