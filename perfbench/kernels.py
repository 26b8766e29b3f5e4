"""Direct, single-thread timings of the fused stage's two kernels.

The payload miner (``functions.text.mine_payloads_flat``) and the polygon
matcher (``geo.pip.PolygonIndex.match_points`` with its
``PackedRTree.query_points`` candidate step) are called here outside
Spark, on one Arrow-batch-sized slice of the workload's own pages, so a
change to either kernel shows as per-document or per-point time.
"""

from __future__ import annotations

import pickle
import statistics
import time

import numpy as np
import pandas as pd

from harvester_fgp_spark.functions.text import mine_payloads_flat
from harvester_fgp_spark.geo.cells import bbox_center_lon
from harvester_fgp_spark.operators.geo import build_polygon_index

# spark.sql.execution.arrow.maxRecordsPerBatch in session.build_session
BATCH_ROWS = 16_384


def prefiltered_batch(pages: pd.DataFrame) -> pd.Series:
    """The first batch of texts that reach the fused stage: en/fr pages
    whose text holds a comma or a ``west:`` anchor, as in
    ``plans.pipeline.mine_records``."""
    text = pages["text"].fillna("")
    keep = pages["lang"].isin(["en", "fr"]) & (
        text.str.contains(",", regex=False)
        | text.str.lower().str.contains("west:", regex=False)
    )
    return pages.loc[keep, "text"].head(BATCH_ROWS).reset_index(drop=True)


def _median_s(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def measure(pages: pd.DataFrame, polygons: pd.DataFrame, reps: int = 5) -> dict:
    """Per-layer figures of ``functions.text`` and ``geo.pip``."""
    batch = prefiltered_batch(pages)
    docs = len(batch)
    mine_s = _median_s(lambda: mine_payloads_flat(batch), reps)
    rows, _, kind, lat, lon, west, south, east, north = mine_payloads_flat(batch)
    is_pt = kind == "point"
    pt_lat = np.where(is_pt, lat, (south + north) / 2.0)
    pt_lon = np.where(is_pt, lon, bbox_center_lon(west, east))
    points = len(rows)

    index = build_polygon_index(polygons)
    match_s = _median_s(lambda: index.match_points(pt_lon, pt_lat), reps)
    candidates = len(index.tree.query_points(pt_lon, pt_lat)[0])
    matches = len(index.match_points(pt_lon, pt_lat)[0])
    return {
        "text.mine_us_per_doc": mine_s / max(docs, 1) * 1e6,
        "text.payloads_per_doc": points / max(docs, 1),
        "pip.match_us_per_point": match_s / max(points, 1) * 1e6,
        "pip.candidates_per_point": candidates / max(points, 1),
        "pip.matches_per_point": matches / max(points, 1),
        "pip.hit_ratio": matches / max(candidates, 1),
        "pip.index_bytes": len(pickle.dumps(index)),
    }
