"""Edge-case semantics of the round-5 operators — the corners the
oracle corpora don't isolate: empty/degenerate inputs, boundary
quotas, threshold ties."""

import numpy as np


# --- T47 prototype_prune -----------------------------------------------------


def test_proto_prune_cap_exceeding_cluster_keeps_all(spark):
    from mapnik_vector_tile_spark.operators.similarity import (
        prototype_prune,
    )

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    got = prototype_prune(emb, cap=1000, k=4, iters=1).collect()
    assert len(got) == 40  # nothing pruned when cap >= cluster sizes
    # d2 ranks are hardest-first within each cluster
    per = {}
    for r in got:
        per.setdefault(r.cluster, []).append((r.rnk, r.d2))
    for v in per.values():
        v.sort()
        d2s = [d for _, d in v]
        assert d2s == sorted(d2s, reverse=True)
