"""Checkpoint/resume lineage — the north_rule resumability contract:
kill mid-job, rerun, byte-identical output; completed buckets never
recompute."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapnik_vector_tile_spark.operators import lineage as L


@pytest.fixture()
def tiles_df(spark):
    rng = np.random.default_rng(11)
    n = 5000
    pdf = pd.DataFrame(
        {
            "cell": rng.integers(0, 10_000, n),
            "payload": rng.integers(0, 1 << 40, n),
            "name": [f"r{i}" for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


def _full_read_sorted(spark, out_dir, stage):
    pdf = L.read_stage(spark, out_dir, stage).toPandas()
    return pdf.sort_values(["cell", "payload"]).reset_index(drop=True)


def test_single_run_roundtrip(spark, tiles_df, tmp_path):
    out = str(tmp_path / "ckpt")
    lin = L.run_stage(tiles_df, out, "s1", "cell", n_buckets=16).toPandas()
    assert len(lin) == 16
    assert (lin["status"] == "ok").all()
    assert lin["rows_out"].sum() == 5000
    back = _full_read_sorted(spark, out, "s1")
    want = tiles_df.toPandas().sort_values(["cell", "payload"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(back[["cell", "payload", "name"]], want)


def test_resume_after_injected_failure(spark, tiles_df, tmp_path):
    out = str(tmp_path / "ckpt2")
    with pytest.raises(Exception):
        L.run_stage(
            tiles_df, out, "s1", "cell", n_buckets=16, fail_bucket_over=5
        ).collect()
    done_first = L.completed_buckets(out, "s1")
    assert 0 < len(done_first) < 16  # partial progress committed
    # resume: only missing buckets run
    lin2 = L.run_stage(tiles_df, out, "s1", "cell", n_buckets=16).toPandas()
    assert set(lin2["bucket"]) == set(range(16)) - done_first
    assert L.completed_buckets(out, "s1") == set(range(16))
    back = _full_read_sorted(spark, out, "s1")
    want = tiles_df.toPandas().sort_values(["cell", "payload"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(back[["cell", "payload", "name"]], want)


def test_rerun_completed_stage_is_noop(spark, tiles_df, tmp_path):
    out = str(tmp_path / "ckpt3")
    L.run_stage(tiles_df, out, "s1", "cell", n_buckets=8).collect()
    lin = L.run_stage(tiles_df, out, "s1", "cell", n_buckets=8).toPandas()
    assert len(lin) == 0  # nothing left to do


def test_lineage_metrics_readable(spark, tiles_df, tmp_path):
    out = str(tmp_path / "ckpt4")
    L.run_stage(tiles_df, out, "s1", "cell", n_buckets=8, run_id="runA").collect()
    lin = L.read_lineage(spark, out, "s1").toPandas()
    assert len(lin) == 8
    assert (lin["run_id"] == "runA").all()
    assert (lin["key_min"] <= lin["key_max"]).all()
    assert (lin["wall_ms"] >= 0).all()
