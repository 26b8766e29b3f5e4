"""EP1: the full production DAG (SURVEY.md §3.2, §7.2 minimum slice).

pages -> validity/lang/coord prefilters (native, BEFORE any UDF so
pushdown reaches the scan) -> E1 extract -> E2 mine+explode -> G4
broadcast-R-tree PIP -> E3 bilingual -> E6/E7 serialization -> G1 cell
encode (native) -> G7 tile assign (native) -> normalized records.

The reference runs the same semantics as one sequential per-record loop
([REF? harvest_hnap.py], SURVEY §3.1); here the whole thing is one
declarative DataFrame DAG — Catalyst owns ordering, AQE owns shuffle
sizing, and the only Python is one fused Arrow-batched stage (E1 + E2 +
G4).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as _text
from ..geo import cells as _cells
from ..geo import tiles as _tiles
from ..operators import extract as E
from ..operators import geo as G

# fused-stage output: page passthroughs + payload fields + PIP match.
# extracted_text is optional: it weighs ~page-text bytes PER PAYLOAD ROW
# through the Arrow boundary and downstream shuffles, and aggregate
# consumers (tile summaries) never read it — keep_text=False drops it at
# the source, which is the only place a MapInPandas column can be pruned.
def _fused_schema(keep_text: bool) -> str:
    text_part = "extracted_text string, " if keep_text else ""
    return (
        f"url string, warc_ts timestamp, lang string, {text_part}"
        "payload_idx int, kind string, lat double, lon double, "
        "west double, south double, east double, north double, "
        "pt_lat double, pt_lon double, polygon_id string"
    )


def _fused_mine_match(bidx, keep_text: bool = True):
    """extract -> mine -> explode -> exact PIP, in ONE Python pass.

    Every ArrowEvalPython/MapInPandas node costs a Python worker per task
    plus an Arrow round trip; at wide parallelism those fixed costs — not
    kernels — dominate (measured: worker-pool creation is serialized
    JVM-side). One fused stage keeps the whole Python portion of the
    pipeline to a single worker per task.
    """

    base_cols = ["url", "warc_ts", "lang"]
    out_cols = base_cols + (["extracted_text"] if keep_text else []) + [
        "payload_idx", "kind", "lat", "lon", "west", "south", "east",
        "north", "pt_lat", "pt_lon", "polygon_id",
    ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bidx.value
        for pdf in batches:
            text = pdf["text"]
            miss = text.isna()
            if miss.any():
                # extraction fallback is inherently per-element (stdlib
                # HTML parser) but runs only on rows missing text
                text = text.copy()
                text[miss] = [
                    _text.extract_text(bytes(h)) if h is not None else None
                    for h in pdf["html"][miss]
                ]
            # vectorized miner: flat arrays, zero per-row Python (the
            # round-1 per-row dict loop was the measured scaling bottleneck)
            rows_i, pidx, kind, lat, lon, west, south, east, north = (
                _text.mine_payloads_flat(text)
            )
            if len(rows_i) == 0:
                yield pd.DataFrame({k: [] for k in out_cols})
                continue
            is_pt = kind == "point"
            pt_lat = np.where(is_pt, lat, (south + north) / 2.0)
            # wrap-aware center: west > east = antimeridian bbox
            pt_lon = np.where(is_pt, lon, _cells.bbox_center_lon(west, east))
            data: dict = {
                "url": pdf["url"].to_numpy()[rows_i],
                "warc_ts": pdf["warc_ts"].to_numpy()[rows_i],
                "lang": pdf["lang"].to_numpy()[rows_i],
            }
            if keep_text:
                data["extracted_text"] = text.to_numpy()[rows_i]
            data.update(
                payload_idx=pidx.astype(np.int32),
                kind=kind,
                # nullable Float64 so NaN (= no value for this payload
                # kind) crosses Arrow as SQL NULL, matching the scalar path
                lat=pd.array(lat, dtype="Float64"),
                lon=pd.array(lon, dtype="Float64"),
                west=pd.array(west, dtype="Float64"),
                south=pd.array(south, dtype="Float64"),
                east=pd.array(east, dtype="Float64"),
                north=pd.array(north, dtype="Float64"),
                pt_lat=pt_lat,
                pt_lon=pt_lon,
            )
            # left join: one row per (payload, polygon) match; unmatched
            # payloads keep a null polygon_id
            yield G.pip_match_frame(index, pd.DataFrame(data), pt_lon, pt_lat)

    return fn


def mine_records(
    spark: SparkSession,
    pages: DataFrame,
    polygons_pdf: pd.DataFrame,
    cell_level: int = _cells.DEFAULT_LEVEL,
    tile_z: int = _tiles.DEFAULT_TILE_Z,
    keep_text: bool = True,
    engine: str = "fused",
) -> DataFrame:
    """pages + polygons -> normalized records (FIXTURES.md §3 core fields).

    `engine` selects the payload+PIP stage; both are record-identical
    (asserted in tests/test_native_pipeline.py):
      - "fused" (the product path): ONE mapInPandas stage (extract ->
        mine -> explode -> R-tree PIP). Rows without text are extracted
        from html inside the stage.
      - "native": the oracle twin, used by the __spark_entry__ flagship
        oracles and by perfbench as the reference output. Rows that
        carry text run a ZERO-Python plan — the regex miner as codegen
        expressions (payloads_native_col) and exact PIP as a broadcast
        join + higher-order ray cast (pip_join_native); html-only rows
        still route through the fused Python stage and union back in.

    Round-3 history (2M pages, local[32], a 32-core host): steady-state
    fused won (1.9-2.4 s vs native 2.6-3.0 s — warm Python workers + the
    numpy flat miner beat Java running two regexp_extract_all passes plus
    the union overhead), but cold-start native won (5.3 s vs 8.3 s — no
    worker-spawn storm).
    """
    valid, _quarantine = E.split_valid(pages)
    df = valid.filter(F.col("lang").isin("en", "fr"))

    if engine == "native":
        # round-3 zero-Python plan for text-bearing rows: native regex
        # miner (codegen) + broadcast higher-order PIP; html-only rows
        # fall back to the fused Python stage and union in
        text_prefilter = F.col("text").isNotNull() & (
            F.col("text").contains(",")
            | F.lower(F.col("text")).contains("west:")
        )
        base_cols = ["url", "warc_ts", "lang"] + (
            ["extracted_text"] if keep_text else []
        )
        pay = (
            df.filter(text_prefilter)
            .select(
                "url",
                "warc_ts",
                "lang",
                F.col("text").alias("extracted_text"),
                F.posexplode(
                    E.payloads_native_col(F.col("text"))
                ).alias("payload_idx", "payload"),
            )
            .select(
                *(["url", "warc_ts", "lang", "extracted_text"]),
                "payload_idx",
                "payload.*",
            )
        )
        if not keep_text:
            pay = pay.drop("extracted_text")
        pay = pay.withColumn(
            "pt_lat",
            F.when(F.col("kind") == "point", F.col("lat")).otherwise(
                (F.col("south") + F.col("north")) / F.lit(2.0)
            ),
        ).withColumn(
            "pt_lon",
            F.when(F.col("kind") == "point", F.col("lon")).otherwise(
                G.bbox_center_lon_col(F.col("west"), F.col("east"))
            ),
        )
        nat = G.pip_join_native(
            spark, pay, polygons_pdf, lon_col="pt_lon", lat_col="pt_lat",
            how="left",
        ).select(
            *base_cols,
            "payload_idx", "kind", "lat", "lon", "west", "south", "east",
            "north", "pt_lat", "pt_lon", "polygon_id",
        )
        idx = G.build_polygon_index(polygons_pdf)
        bidx = spark.sparkContext.broadcast(idx)
        html_rows = df.filter(F.col("text").isNull()).select(
            "url", "warc_ts", "lang", "text", "html"
        )
        fallback = html_rows.mapInPandas(
            _fused_mine_match(bidx, keep_text=keep_text),
            _fused_schema(keep_text),
        )
        df = nat.unionByName(fallback)
    else:
        # hot path: extract -> mine -> explode -> exact PIP fused into ONE
        # Python stage (see _fused_mine_match); the native prefilter keeps
        # non-minable rows off the Arrow boundary, and nulling html keeps
        # already-extracted pages' bytes off it
        idx = G.build_polygon_index(polygons_pdf)
        bidx = spark.sparkContext.broadcast(idx)
        # lower() keeps the prefilter a strict SUPERSET of BBOX_RE's
        # case-insensitive matches ("WEST: ..." pages must not be dropped);
        # the OR short-circuits so lower() only runs on comma-free rows
        prefilter = (
            F.col("text").isNull()
            | F.col("text").contains(",")
            | F.lower(F.col("text")).contains("west:")
        )
        narrow = df.filter(prefilter).select(
            "url",
            "warc_ts",
            "lang",
            "text",
            F.when(F.col("text").isNull(), F.col("html")).alias("html"),
        )
        df = narrow.mapInPandas(
            _fused_mine_match(bidx, keep_text=keep_text),
            _fused_schema(keep_text),
        )

    # everything below is native (whole-stage codegen): bilingual pairing,
    # title/keywords derivation, vocab mapping, temporal normalization,
    # cell encode, tile assign, record id, GeoJSON serialization
    if keep_text:
        df = E.with_bilingual(df, "extracted_text", "notes")
        words = F.split(F.col("extracted_text"), " ")
        # title stands in for the reference's dataset title ([REF?
        # harvest_hnap.py]): leading 4 words of the canonical text —
        # deterministic and bilingual-paired like every HNAP free-text
        df = df.withColumn("title", F.concat_ws(" ", F.slice(words, 1, 4)))
        df = E.with_bilingual(df, "title", "title")
        df = df.withColumn(
            "keywords", F.array_sort(F.array_distinct(F.slice(words, 1, 12)))
        )
        # E4: mined vocab codes -> canonical labels via native map literals
        df = df.withColumn(
            "topic_category",
            E.vocab_map_col(
                E.TOPIC_CATEGORIES,
                F.regexp_extract(F.col("extracted_text"), r"topic:\s*(\w+)", 1),
            ),
        ).withColumn(
            "frequency",
            E.vocab_map_col(
                E.FREQUENCIES,
                F.regexp_extract(
                    F.col("extracted_text"), r"frequency:\s*(\w+)", 1
                ),
            ),
        )
    # E5: temporal normalization (crawl_date) in both branches — native
    df = E.with_temporal(df)
    df = G.with_cell(df, "pt_lon", "pt_lat", cell_level)
    df = G.with_tile(df, "pt_lon", "pt_lat", tile_z)
    # payload ordinal comes from the miner's array position — stable,
    # deterministic, and no window shuffle (E7)
    df = df.withColumn("record_id", E.record_id_col(F.col("url"), F.col("payload_idx")))
    df = df.withColumn(
        "spatial",
        F.when(
            F.col("kind") == "bbox",
            E.geojson_bbox_col(
                F.col("west"), F.col("south"), F.col("east"), F.col("north")
            ),
        ),
    )
    out_cols = [
        "record_id", "url", "warc_ts", "crawl_date",
        *(
            [
                "title_en", "title_fr", "notes_en", "notes_fr",
                "keywords", "topic_category", "frequency",
            ]
            if keep_text
            else []
        ),
        "spatial", "kind", "lat", "lon", "west", "south", "east", "north",
        "cell_id", "polygon_id", "tile_z", "tile_x", "tile_y",
        *(["extracted_text"] if keep_text else []),
    ]
    return df.select(*out_cols)


def tile_summary(records: DataFrame) -> DataFrame:
    """A1/O1: matched records per (tile, polygon) — the flagship answer."""
    return (
        records.filter(F.col("polygon_id").isNotNull())
        .groupBy("tile_z", "tile_x", "tile_y", "polygon_id")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("url").alias("n_urls"),
        )
        .orderBy("tile_z", "tile_x", "tile_y", "polygon_id")
    )
