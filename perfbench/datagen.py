"""Benchmark inputs.

The query tables are the repository's sf0.001 test tables (TESTDATA.md:
``events``, ``documents``, ``embeddings``, seed 42), kept as copies under
``perfbench/data/sf0.001`` so that a run reads nothing outside its checkout.
The ``cli_tile`` image table is generated into ``.perfbench/`` and cached on
disk, one table per image-id offset. The workload seed varies the operation
order and, for ``cli_tile``, that offset.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
TABLES = ("events", "documents", "embeddings")


def tables_digest() -> str:
    """A short hash of the query tables, the key of the cached oracle results."""
    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(SF_DIR, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_images(cache_dir: str, first: int, n: int, dims: list, files: int = 4) -> str:
    """The image table for ids ``first .. first+n-1``, written once.

    Rows come from ``data.images.make_image_row`` with the given ``dims``
    cycle, the row generator ``synth_images`` maps over, so the table equals
    the synthetic table of the engine; building it here keeps its Spark job
    out of the measured JVM. The key holds the codec version, on which the
    stored phash depends.
    """
    from activity_files_spark.codecs.image import _QUANT_BITS, PHASH_VERSION
    from activity_files_spark.data.images import make_image_row

    dims_key = "-".join(f"{w}x{h}" for w, h in dims)
    out = os.path.join(
        cache_dir, f"images_q{_QUANT_BITS}p{PHASH_VERSION}_{dims_key}_{first}_{n}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64())])
    rows = [make_image_row(i, dims) for i in range(first, first + n)]
    for k in range(files):
        part = rows[k * n // files:(k + 1) * n // files]
        pq.write_table(pa.Table.from_pylist(part, schema),
                       os.path.join(tmp, f"part-{k}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
