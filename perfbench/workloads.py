"""The benchmark's workloads: what one timed unit runs and how it is checked.

Every workload is a closed loop with one client: the next unit starts when
the previous one has finished. Pages come from
``synth.generate_pages(pages, seed)``; polygons from
``synth.generate_polygons(polygons, 42)``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import functions as F

from harvester_fgp_spark.plans.pipeline import mine_records, tile_summary
from harvester_fgp_spark.sinks.checkpoint import (
    verify_lineage,
    write_records_and_checkpoint,
)
from harvester_fgp_spark.sources.tables import read_pages


def digest(df) -> tuple[str, int]:
    """Order-insensitive digest of a DataFrame's rows, and the row count."""
    pdf = df.toPandas()
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest(), len(pdf)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class TilesRun:
    """``tile_summary(mine_records(pages, polygons))`` into a noop sink."""

    def __init__(self, spark, pages_path: str, polygons, work_dir: str) -> None:
        self.spark = spark
        self.pages = read_pages(spark, pages_path)
        self.polygons = polygons
        # builds and broadcasts the polygon index
        self.job = tile_summary(mine_records(spark, self.pages, polygons))

    def unit(self) -> None:
        self.job.write.format("noop").mode("overwrite").save()

    def after_unit(self) -> None:
        pass

    def oracle(self) -> dict:
        """The same job with ``engine="native"``: the oracle twin."""
        twin = tile_summary(
            mine_records(self.spark, self.pages, self.polygons, engine="native")
        )
        h, rows = digest(twin)
        return {"digest": h, "rows": rows}

    def check(self, expected: dict) -> tuple[bool, dict]:
        h, rows = digest(self.job)
        return rows > 0 and h == expected["digest"], {"tile_rows": rows}


class IngestRun:
    """``write_records_and_checkpoint(mine_records(...))`` into fresh
    directories per unit; the previous unit's output is removed between
    units, outside the timed region."""

    def __init__(self, spark, pages_path: str, polygons, work_dir: str) -> None:
        self.spark = spark
        self.pages = read_pages(spark, pages_path)
        self.polygons = polygons
        self.records = mine_records(spark, self.pages, polygons)
        self.root = os.path.join(work_dir, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        self.i = 0
        self.out = self.cp = ""

    def unit(self) -> None:
        self.i += 1
        self.out = os.path.join(self.root, f"out-{self.i}")
        self.cp = os.path.join(self.root, f"cp-{self.i}")
        write_records_and_checkpoint(
            self.records, self.out, self.cp, run_id=f"unit-{self.i}"
        )

    def after_unit(self) -> None:
        for i in range(1, self.i):
            shutil.rmtree(os.path.join(self.root, f"out-{i}"), ignore_errors=True)
            shutil.rmtree(os.path.join(self.root, f"cp-{i}"), ignore_errors=True)

    def oracle(self) -> dict:
        """Record count of the ``engine="native"`` twin."""
        twin = mine_records(self.spark, self.pages, self.polygons, engine="native")
        return {"records": twin.count()}

    def check(self, expected: dict) -> tuple[bool, dict]:
        """Audit the last unit's output: no tile disagrees with its lineage,
        and lineage rows, rows read back and the oracle count agree."""
        spark = self.spark
        bad = verify_lineage(spark, self.out, self.cp).count()
        lineage = spark.read.parquet(self.cp).agg(F.sum("row_count")).first()[0]
        read_back = spark.read.parquet(self.out).count()
        ok = bad == 0 and lineage == read_back == expected["records"] > 0
        return ok, {
            "bad_tiles": bad,
            "records": read_back,
            "out_bytes_per_record": dir_bytes(self.out) / max(read_back, 1),
        }


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    polygons: int
    runner: type


# Why each exists is in BENCHMARK.json. tiles-200 is miner-bound (a PIP
# change should not move it); tiles-5k puts the work in PIP and the tile
# aggregate; ingest is dominated by the tile-partitioned write. The page
# counts keep one run of the benchmark within its time budget.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("tiles-200", 10_000, 200, TilesRun),
        Workload("tiles-5k", 6_000, 5_000, TilesRun),
        Workload("ingest", 1_000, 200, IngestRun),
    )
}
