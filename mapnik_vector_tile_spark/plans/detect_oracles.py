"""Oracle pair for the raster blob labeling (`raster.blob_stats`).

Same contract as `plans.sampling_oracles.pairs()`: each entry maps a
query key to (spark_fn, duckdb_sql). Both engines regenerate the
canonical synthetic images from the same pixel CTE chain, so the value
hash over every image's component summary is a real end-to-end
witness."""

from __future__ import annotations

from collections.abc import Callable


def pairs() -> dict[str, tuple[Callable, str | None]]:
    return {
        "q_image_blobs": (q_image_blobs, _sql_image_blobs()),
    }


# ---------------------------------------------------------------------------
# q_image_blobs — connected-component labeling over the canonical images
# ---------------------------------------------------------------------------

BLOB_N = 400  # same corpus size as the other full-pixel image oracles
# (the former BLOB_RELAX=22 unroll is gone — see _sql_image_blobs: the
# recursive-CTE twin iterates to the exact fixpoint, no margin to keep)


def q_image_blobs(spark, sf_dir: str):
    """T12j blob labeling (raster.blob_stats) with a FULL oracle: the
    DuckDB twin regenerates every pixel from the shared CTE chain,
    builds the 4-adjacency edge list with two equi-joins (pid+1 /
    pid+w — no quadratic join), and replays min-label propagation as
    a RECURSIVE CTE to the exact fixpoint (r5; see _sql_image_blobs'
    docstring for the planner cliff that killed the old unroll)."""
    from mapnik_vector_tile_spark.operators.raster import blob_stats
    from mapnik_vector_tile_spark.sources.synth import images_df

    return blob_stats(images_df(spark, BLOB_N))


def _sql_image_blobs(n: int = BLOB_N) -> str:
    """r5 rewrite of the min-label replay: the former 22-round unrolled
    relax-join chain tripped a DuckDB planner cliff past ~4 CTE levels
    (the whole query went ~5 s -> ~40 s from PLANNING, not data — the
    pixel chain re-evaluated and pipelines serialized), so propagation
    is now a RECURSIVE CTE: seed (pid, pid), step emits a neighbor's
    label when it is smaller than the target pid, UNION dedups, and
    MIN(l) per pid after the fixpoint IS the component min-label — the
    engine's exact answer with no unroll margin to maintain.  Row
    bound: a label reaches only members of its own component, so the
    working set is <= sum(component size^2) — max_comp on this corpus
    is 27 px (pinned <= 20 relax distance in tests/test_raster.py), a
    few-million-row recursion.  Measured 43 s -> 6 s at sf0.01,
    bit-identical output."""
    from mapnik_vector_tile_spark.plans.oracle_pairs import _img_pixel_ctes

    return f"""
WITH RECURSIVE {_img_pixel_ctes(n)},
lum AS MATERIALIZED (
  SELECT i, w, h, y, x, (r*77 + g*151 + b*28) // 256 AS g8 FROM chan),
fg AS MATERIALIZED (
  SELECT i, w, y*w + x AS pid, x, y FROM lum WHERE g8 % 4 = 0),
e0 AS (
  SELECT a.i, a.pid AS ap, b.pid AS bp
  FROM fg a JOIN fg b ON a.i = b.i AND b.pid = a.pid + 1 AND b.y = a.y
  UNION ALL
  SELECT a.i, a.pid, b.pid
  FROM fg a JOIN fg b ON a.i = b.i AND b.pid = a.pid + a.w),
edges AS MATERIALIZED (
  SELECT i, ap, bp FROM e0 UNION ALL SELECT i, bp, ap FROM e0),
lab AS (
  SELECT i, pid, pid AS l FROM fg
  UNION
  SELECT e.i, e.ap AS pid, lb.l
  FROM lab lb JOIN edges e ON e.i = lb.i AND e.bp = lb.pid
  WHERE lb.l < e.ap
),
fin AS (SELECT i, pid, MIN(l) AS l FROM lab GROUP BY i, pid),
comp AS (SELECT i, l AS root, COUNT(*) AS sz FROM fin GROUP BY i, l),
ag AS (
  SELECT i, SUM(sz) AS n_fg, COUNT(*) AS n_comps, MAX(sz) AS max_comp,
         SUM((root * 1000003 + sz) % 2147483647) AS ch
  FROM comp GROUP BY i)
SELECT 'img_' || lpad(CAST(d.i AS VARCHAR), 12, '0') AS image_id,
       CAST(COALESCE(a.n_fg, 0) AS BIGINT) AS n_fg,
       CAST(COALESCE(a.n_comps, 0) AS BIGINT) AS n_comps,
       CAST(COALESCE(a.max_comp, 0) AS BIGINT) AS max_comp,
       CAST(COALESCE(a.ch, 0) AS BIGINT) AS ch,
       caps.caption AS caption
FROM dims d
LEFT JOIN ag a ON d.i = a.i
JOIN caps ON d.i = caps.i
"""
