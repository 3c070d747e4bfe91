"""The benchmark's workloads and the operations they issue.

Each workload is a fixed mix of operations that stresses one layer of the
engine. The mixes are small because a run has to finish set-up (a Spark JVM
and one cold pass of the mix) and its measured passes in under a minute, so
that tens of runs per workload fit into an hour.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench.trace import ProcTree

WORKLOADS = {
    # the production write path: manifest stage commit and partitioned
    # parquet writes, beside three image scans with decode in Python workers
    "cli_tile": ("cli_tile",),
    # query construction and driver-issued jobs: the dbscan and connected-
    # components driver loops and availableNow micro-batches run inside the
    # builders; executor data is tiny
    "driver_loop": ("dbscan_events", "dedup_clusters_docs", "stream_sessionize_users"),
}
# wall seconds of one warm pass on a quiet 4-core machine; ``--seconds``
# divided by it gives the number of measured passes
NOMINAL_PASS_S = {"cli_tile": 6.0, "driver_loop": 7.5}

TILE_IMAGES = 960
TILE_RESOLUTIONS = (8, 10, 12)


@dataclass
class OpRecord:
    name: str
    pass_no: int
    start_ms: int = 0          # wall clock, to match event-log times
    built_ms: int = 0
    end_ms: int = 0
    build_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0         # driver, JVM and Python workers together
    pyworker_cpu_s: float = 0.0
    jit_cpu_s: float = 0.0     # JVM compiler threads
    gc_cpu_s: float = 0.0
    ok: bool = False
    error: str = ""
    output: object = None      # rows (queries) or the printed counts (cli_tile)
    extra: dict = field(default_factory=dict)

    def set_cpu(self, before: dict, after: dict) -> None:
        self.cpu_s = after["all"] - before["all"]
        self.pyworker_cpu_s = after["workers"] - before["workers"]
        self.jit_cpu_s = after["jit"] - before["jit"]
        self.gc_cpu_s = after["gc"] - before["gc"]

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


def _now() -> tuple[float, int]:
    return time.perf_counter(), int(time.time() * 1000)


class QueryOp:
    """One ``__spark_entry__`` query: the builder, then ``collect`` on its plan."""

    def __init__(self, name: str, builder):
        self.name = name
        self.builder = builder

    def run(self, spark, sf_dir: str, rec: OpRecord, tree: ProcTree) -> None:
        cpu0 = tree.cpu()
        p0, rec.start_ms = _now()
        df = self.builder(spark, sf_dir)
        p1, rec.built_ms = _now()
        rows = df.collect()
        p2, rec.end_ms = _now()
        rec.build_s, rec.exec_s = p1 - p0, p2 - p1
        rec.set_cpu(cpu0, tree.cpu())
        rec.output = (df.columns, [r.asDict() for r in rows])


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class TileOp:
    """``cli.main(["tile", ...])`` into a fresh manifest and output directory."""

    name = "cli_tile"

    def __init__(self, images: str, geofences: str, scratch: str):
        self.images = images
        self.geofences = geofences
        self.scratch = scratch
        self.count = 0

    def run(self, spark, sf_dir: str, rec: OpRecord, tree: ProcTree) -> None:
        from activity_files_spark import cli

        self.count += 1
        out = os.path.join(self.scratch, f"tiles-{self.count}")
        man = os.path.join(self.scratch, f"manifest-{self.count}")
        argv = ["tile", "--images", self.images, "--geofences", self.geofences,
                "--resolutions", ",".join(map(str, TILE_RESOLUTIONS)),
                "--manifest", man, "--output", out, "--validate"]
        buf = io.StringIO()
        cpu0 = tree.cpu()
        p0, rec.start_ms = _now()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        p1, rec.end_ms = _now()
        rec.set_cpu(cpu0, tree.cpu())
        rec.built_ms = rec.start_ms
        rec.exec_s = p1 - p0
        lines = buf.getvalue().strip().splitlines()
        rec.output = {"rc": rc, **(json.loads(lines[-1]) if lines else {})}
        out_bytes, out_files = _dir_stats(out)
        man_bytes, man_files = _dir_stats(man)
        with open(os.path.join(man, "tiles.json")) as f:
            stage = json.load(f)
        rec.extra = {"bytes_written": out_bytes + man_bytes,
                     "files_written": out_files + man_files,
                     "stage_s": stage["duration_s"]}
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(man, ignore_errors=True)
