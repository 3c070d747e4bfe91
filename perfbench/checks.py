"""Output checks: DuckDB oracles for the queries, a pure-Python recount for
``cli tile``. Both run outside the timed region."""

from __future__ import annotations

import hashlib
import os
import pickle

from perfbench.datagen import TABLES, tables_digest
from perfbench.workloads import TILE_RESOLUTIONS


class Oracle:
    """Expected query outputs from ``oracle_sql()`` run in DuckDB on the same
    tables, normalised as ``tests/test_entry_oracle.py`` does and cached on
    disk per (table contents, SQL text)."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = os.path.join(cache_dir, f"oracle_{tables_digest()}")
        self._mem: dict[str, tuple] = {}
        self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return self._con

    def expected(self, name: str, sql: str) -> tuple:
        if name in self._mem:
            return self._mem[name]
        from tests.test_entry_oracle import normalize

        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                exp = pickle.load(f)
        else:
            rel = self._duck().sql(sql)
            cols = rel.columns
            rows = [dict(zip(cols, t)) for t in rel.fetchall()]
            exp = (sorted(cols), normalize(rows, cols))
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(exp, f)
            os.replace(path + ".tmp", path)
        self._mem[name] = exp
        return exp

    def check(self, name: str, sql: str, output: tuple) -> str:
        """Empty string when the Spark output equals the oracle's, else why not."""
        from tests.test_entry_oracle import normalize

        cols, rows = output
        exp_cols, exp_rows = self.expected(name, sql)
        if sorted(cols) != exp_cols:
            return f"columns {sorted(cols)} != oracle {exp_cols}"
        if len(rows) != len(exp_rows):
            return f"{len(rows)} rows != oracle {len(exp_rows)}"
        got = normalize(rows, cols)
        bad = sum(a != b for a, b in zip(got, exp_rows))
        return f"{bad} rows differ from the oracle" if bad else ""


def geofence_rings(geofences) -> list[dict]:
    """``E.GEOFENCES`` rectangles as the polygon rings ``cli tile`` reads."""
    return [{"geofence_id": g, "ring": [(w, s), (e, s), (e, n), (w, n)]}
            for g, w, e, s, n in geofences]


def _inside(lon: float, lat: float, ring: list) -> bool:
    """Even-odd ray cast, the arithmetic of ``operators.spatial._ray_cast_np``."""
    hits = 0
    for k, (x1, y1) in enumerate(ring):
        x2, y2 = ring[(k + 1) % len(ring)]
        if (y1 > lat) != (y2 > lat):
            xin = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
            hits += lon < xin
    return hits % 2 == 1


def tile_expected(first_id: int, n: int, rings: list[dict]) -> dict:
    """Counts ``cli tile --validate`` must print for images ``first_id..+n``."""
    from activity_files_spark.data.images import image_meta

    pip = 0
    for i in range(first_id, first_id + n):
        _, _, _, lat, lon = image_meta(i)
        pip += sum(_inside(lon, lat, r["ring"]) for r in rings)
    return {"rc": 0, "tiles": n * len(TILE_RESOLUTIONS), "pip_rows": pip,
            "invalid_images": 0}


def check_tile(expected: dict, printed: dict) -> str:
    bad = [f"{k} {printed.get(k)} != {v}" for k, v in expected.items()
           if printed.get(k) != v]
    return "; ".join(bad)
