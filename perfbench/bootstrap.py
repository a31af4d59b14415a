"""bootstrap_load: the paper's census pipeline, two vintages per pass.

Each vintage reads its Census JSON units, runs the validation gates,
projects through the rendered column config, unions the split
geographies and derives their centroid and UTM zone, melts to EAV,
SCD-2 merges into the current state and publishes through
write-audit-publish with the version invariants as the audit.
Vintage 1 is a first load (the append fast path); vintage 2 revises
~10% of the geographies and adds ~5% (close-and-insert).
"""

from __future__ import annotations

import math
import os
import shutil
import time
from functools import reduce

import duckdb

import engine
import gen

# one state's county and tract responses: the load unions responses of
# both shapes. Each further unit adds 2-3 s to a pass (on 4 vCPUs),
# so two units keep a run within its time budget.
UNITS = 2
GEOS_PER_UNIT = 100
KEYS = ["geo_path", "col_path"]
FLOAT_COLS = {"centroid_x": "float", "centroid_y": "float"}

CONFIG = """
source_url: "census://{{ year }}/pl"
columns:
  - source: geo_id
    target: geo_path
    type: str
    kind: identifier
  - source: name
    target: name
    type: str
{% for c in counts %}
  - source: {{ c }}
    target: {{ c }}
    type: int
    kind: count
{% endfor %}
"""


class Bootstrap:
    name = "bootstrap_load"
    unit = "EAV cells published"
    ops_per_pass = 2

    def __init__(self, root: str, seed: int):
        self.inputs = gen.write_census(os.path.join(root, "census"), seed, UNITS, GEOS_PER_UNIT)
        self.counts = [c.lower() for c in gen.COUNT_COLS]
        self.store_root = os.path.join(root, "store")
        n_attr = 1 + len(self.counts) + 3  # name, counts, centroid x/y, UTM zone
        # cells each pass publishes: every v1 cell, plus v2's new and
        # revised cells
        self.items = n_attr * (self.inputs.n_geos_v1 + self.inputs.n_new) + self.inputs.n_revised
        self.sizes = {
            "units": UNITS,
            "geos_v1": self.inputs.n_geos_v1,
            "geos_v2": self.inputs.n_geos_v2,
            "count_columns": len(self.counts),
            "revised": self.inputs.n_revised,
            "new": self.inputs.n_new,
            "split_geoids": self.inputs.n_split,
        }
        self.expected = self._expected()

    def stage(self, spark, t) -> engine.Staged:
        """Nothing is staged: the load starts from raw responses."""
        return engine.Staged()

    # -- the timed pass ----------------------------------------------

    def run_pass(self, spark, t, i: int):
        from pyspark.sql import functions as F

        from gerrydb_etl_spark.geo.kernels import st_centroid, union_by_key
        from gerrydb_etl_spark.geo.utm import utm_zone
        from gerrydb_etl_spark.operators.validate import (
            collision_ceiling,
            fail_if_nonempty,
            strict_cast_violations,
        )
        from gerrydb_etl_spark.plans.config import apply_config, render_config
        from gerrydb_etl_spark.sources.formats import census_json_file_to_df
        from gerrydb_etl_spark.store.eav import melt_to_eav
        from gerrydb_etl_spark.store.scd2 import (
            assert_version_invariants,
            empty_versioned,
            scd2_merge,
        )
        from gerrydb_etl_spark.store.wap import VersionedTable

        root = os.path.join(self.store_root, f"pass{i}")
        table = VersionedTable(spark, root)
        state = None
        phases = {}
        ints = {c: "int" for c in self.counts}
        for version, files, geom in (
            (1, self.inputs.v1_files, self.inputs.geom_v1),
            (2, self.inputs.v2_files, self.inputs.geom_v2),
        ):
            t0 = time.perf_counter()
            raw = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [census_json_file_to_df(spark, f) for f in files],
            )
            fail_if_nonempty(
                strict_cast_violations(raw, ["geo_id"], ints), "untyped census values"
            )
            fail_if_nonempty(collision_ceiling(raw, ["geo_id"], 1), "duplicate geo ids")
            cfg = render_config(CONFIG, year=2010 + 10 * version, counts=self.counts)
            wide = apply_config(raw, cfg)

            with t.span("session", "read_parquet"):
                parts = spark.read.parquet(geom)
            c = st_centroid(F.col("geometry"))
            geo_attrs = union_by_key(parts, "geo_id", "geometry").select(
                F.col("key").alias("geo_path"),
                c.x.alias("centroid_x"),
                c.y.alias("centroid_y"),
                utm_zone(c.x).alias("utm_zone"),
            )

            long_df = melt_to_eav(wide, ["geo_path"], {"name": "str", **ints}).unionByName(
                melt_to_eav(geo_attrs, ["geo_path"], {**FLOAT_COLS, "utm_zone": "int"})
            )
            current = state if state is not None else empty_versioned(long_df)
            merged = scd2_merge(current, long_df, KEYS, version=version)
            table.write(
                merged,
                audits=[lambda staged: assert_version_invariants(staged, KEYS)],
                notes=f"census v{version}",
            )
            state = table.read()
            phases["load_s" if version == 1 else "reload_s"] = time.perf_counter() - t0
        return phases, engine.dir_bytes(root), root

    # -- output checks -------------------------------------------------

    def _expected(self):
        """The v1 -> v2 history of every string and count cell, from a
        DuckDB query over the raw JSON responses."""
        con = duckdb.connect()
        cols = ["name", *self.counts]
        pos = {c: 1 + k for k, c in enumerate(cols)}
        unpivot = " UNION ALL ".join(
            f"SELECT json->>0 AS geo_path, '{c}' AS col_path, json->>{pos[c]} AS v, {{ver}} AS ver "
            f"FROM read_json_objects({{files}}, format='array') WHERE json->>0 <> 'GEO_ID'"
            for c in cols
        )
        v1 = unpivot.format(ver=1, files=self.inputs.v1_files)
        v2 = unpivot.format(ver=2, files=self.inputs.v2_files)
        sql = f"""
        WITH a AS ({v1}), b AS ({v2}),
        j AS (
            SELECT COALESCE(a.geo_path, b.geo_path) AS geo_path,
                   COALESCE(a.col_path, b.col_path) AS col_path,
                   a.v AS v1, b.v AS v2
            FROM a FULL OUTER JOIN b USING (geo_path, col_path)
        )
        SELECT geo_path, col_path, v1 AS v, 1 AS valid_from,
               CASE WHEN v2 IS NOT NULL AND v2 <> v1 THEN 2 END AS valid_to
        FROM j WHERE v1 IS NOT NULL
        UNION ALL
        SELECT geo_path, col_path, v2, 2, NULL
        FROM j WHERE v2 IS NOT NULL AND (v1 IS NULL OR v1 <> v2)
        """
        rows = con.execute(sql).fetchall()
        con.close()
        return sorted((g, c, str(v), f, t) for g, c, v, f, t in rows)

    def check(self, root: str) -> list[str]:
        """Compare the published state with the expected history, the
        derived geography with the generator's, and re-check the
        version invariants, all in DuckDB over the published files."""
        ptr = os.path.join(root, "_CURRENT")
        if not os.path.exists(ptr):
            return ["no published version"]
        with open(ptr) as f:
            files = os.path.join(root, f.read().strip(), "*.parquet")
        con = duckdb.connect()
        errors = []
        got = con.execute(
            f"""SELECT geo_path, col_path, COALESCE(CAST(val_int AS VARCHAR), val_str),
                       valid_from, valid_to
                FROM '{files}' WHERE col_path NOT IN ('centroid_x', 'centroid_y', 'utm_zone')"""
        ).fetchall()
        if sorted(got) != self.expected:
            errors.append(f"current view/history differs from the raw responses ({len(got)} rows)")
        geo = con.execute(
            f"""SELECT geo_path, col_path, val_float, val_int, valid_to FROM '{files}'
                WHERE col_path IN ('centroid_x', 'centroid_y', 'utm_zone')"""
        ).fetchall()
        truth = self.inputs.centroids
        bad = 0
        for gid, col, fv, iv, valid_to in geo:
            cx, cy, zone = truth[gid]
            want = {"centroid_x": cx, "centroid_y": cy}.get(col)
            if valid_to is not None or (
                zone != iv if col == "utm_zone" else not math.isclose(fv, want, abs_tol=1e-9)
            ):
                bad += 1
        if bad or len(geo) != 3 * len(truth):
            errors.append(f"derived geography: {bad} wrong of {len(geo)}")
        dup_open = con.execute(
            f"""SELECT count(*) FROM (SELECT geo_path, col_path FROM '{files}'
                WHERE valid_to IS NULL GROUP BY ALL HAVING count(*) > 1)"""
        ).fetchone()[0]
        overlap = con.execute(
            f"""SELECT count(*) FROM (SELECT valid_to, lead(valid_from) OVER
                (PARTITION BY geo_path, col_path ORDER BY valid_from) AS nxt FROM '{files}')
                WHERE nxt IS NOT NULL AND (valid_to IS NULL OR valid_to > nxt)"""
        ).fetchone()[0]
        if dup_open or overlap:
            errors.append(f"version invariants: {dup_open} multi-open keys, {overlap} overlaps")
        con.close()
        return errors

    def cleanup(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
