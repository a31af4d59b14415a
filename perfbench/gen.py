"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
runs in this process (numpy + pyarrow, no Spark). What a check needs
to know beyond the written files (the geometry centroids) comes back
from the generator, so a check never trusts the program under test
for its expected values.
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star-schema tables for the registry sweep -----------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _day_stamps(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def write_star_tables(out_dir: str, seed: int, scale: int) -> dict[str, int]:
    """The ten tables the query registry reads, in the schema and value
    domains the registry's queries and oracles expect, at ``scale``
    times the smallest shape (150 customers, 6000 line items). Returns
    row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc, n_emb, n_user = 500 * scale, 500 * scale, 15 * scale
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(price, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(
                _day_stamps(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(l_part, i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[l_part] * rng.uniform(0.9, 2.3, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(
                _day_stamps(rng, n_line, "1995-01-02", 2498), pa.timestamp("us")
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(DOC_WORDS, int(n)))
        for n in rng.integers(8, 100, n_doc)
    ]
    # a few exact copies, as a crawled corpus has
    for i in range(0, n_doc - 1, 97):
        texts[i + 1] = texts[i]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- Census-shaped responses for the bootstrap load ------------------


def square_ring(cx: float, cy: float, half: float) -> list[tuple[float, float]]:
    """Closed counter-clockwise ring of an axis-aligned square."""
    return [
        (cx - half, cy - half),
        (cx + half, cy - half),
        (cx + half, cy + half),
        (cx - half, cy + half),
        (cx - half, cy - half),
    ]


def wkb_polygon(ring: list[tuple[float, float]]) -> bytes:
    """Little-endian ISO WKB Polygon with one ring."""
    out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(ring))
    return out + b"".join(struct.pack("<dd", x, y) for x, y in ring)


def wkb_multipolygon(rings: list[list[tuple[float, float]]]) -> bytes:
    """Little-endian ISO WKB MultiPolygon, one single-ring part each."""
    return struct.pack("<BII", 1, 6, len(rings)) + b"".join(
        wkb_polygon(r) for r in rings
    )


COUNT_COLS = [f"P1_{i:03d}N" for i in range(1, 17)]
LEVELS = ["county", "tract"]


@dataclass
class CensusInputs:
    """Two vintages of Census JSON units plus the geometry parts."""

    v1_files: list[str]
    v2_files: list[str]
    geom_v1: str
    geom_v2: str
    n_geos_v1: int
    n_geos_v2: int
    n_revised: int
    n_new: int
    # geo_id -> (centroid_x, centroid_y, utm_zone), from the generator
    centroids: dict[str, tuple[float, float, int]] = field(repr=False, default_factory=dict)
    n_split: int = 0


def write_census(out_dir: str, seed: int, units: int, geos_per_unit: int) -> CensusInputs:
    """``units`` state x level work units, alternating county and
    tract, each one JSON response (array of arrays, header first,
    all-string cells) per vintage. A unit's trailing columns are its
    level's FIPS parts, as the Census API returns them, so county and
    tract responses differ in shape.
    Vintage 2 revises ~10% of the geographies' counts and adds ~5% new
    ones. Geometry parts are axis-aligned squares; ~10% of geoids are
    split into two disjoint squares that the load must union."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    v1_files, v2_files = [], []
    geo_parts: list[tuple[str, bytes]] = []
    centroids: dict[str, tuple[float, float, int]] = {}
    new_ids: set[str] = set()
    n_revised = n_new = n_split = 0
    n_v1 = n_v2 = 0

    def geometry(gid: str) -> None:
        nonlocal n_split
        cx = float(rng.uniform(-124.0, -67.0))
        cy = float(rng.uniform(25.0, 49.0))
        half = 0.05
        if rng.random() < 0.10:
            n_split += 1
            a = (cx - 2 * half, cy)
            b = (cx + 2 * half, cy)
            geo_parts.append((gid, wkb_polygon(square_ring(*a, half))))
            geo_parts.append((gid, wkb_polygon(square_ring(*b, half))))
        else:
            geo_parts.append((gid, wkb_multipolygon([square_ring(cx, cy, half)])))
        centroids[gid] = (cx, cy, int(np.floor((cx + 180.0) / 6.0)) + 1)

    for u in range(units):
        state = f"{u // len(LEVELS) + 1:02d}"
        level = LEVELS[u % len(LEVELS)]
        fips = ["STATE", *(lv.upper() for lv in LEVELS[: LEVELS.index(level) + 1])]
        header = ["GEO_ID", "NAME", *COUNT_COLS, *fips]
        rows_v1, rows_v2 = [], []
        for g in range(geos_per_unit):
            gid = f"{level[:2]}{state}{g:06d}"
            counts = rng.integers(0, 100_000, len(COUNT_COLS))
            base = [gid, f"{level} {g} of state {state}"]
            tail = [state, *(f"{g:03d}" for _ in fips[1:])]
            rows_v1.append(base + [str(c) for c in counts] + tail)
            if rng.random() < 0.10:
                n_revised += 1
                counts = counts.copy()
                counts[rng.integers(0, len(COUNT_COLS))] += int(rng.integers(1, 500))
            rows_v2.append(base + [str(c) for c in counts] + tail)
            geometry(gid)
        for g in range(geos_per_unit, geos_per_unit + max(1, round(geos_per_unit / 20))):
            n_new += 1
            gid = f"{level[:2]}{state}{g:06d}"
            new_ids.add(gid)
            counts = rng.integers(0, 100_000, len(COUNT_COLS))
            rows_v2.append(
                [gid, f"{level} {g} of state {state}"]
                + [str(c) for c in counts]
                + [state, *(f"{g:03d}" for _ in fips[1:])]
            )
            geometry(gid)
        n_v1 += len(rows_v1)
        n_v2 += len(rows_v2)
        for vintage, rows, acc in ((1, rows_v1, v1_files), (2, rows_v2, v2_files)):
            path = os.path.join(out_dir, f"v{vintage}_{state}_{level}.json")
            with open(path, "w") as f:
                json.dump([header, *rows], f)
            acc.append(path)
    paths = []
    for vintage in (1, 2):
        parts = [(g, b) for g, b in geo_parts if vintage == 2 or g not in new_ids]
        paths.append(os.path.join(out_dir, f"geometry_v{vintage}.parquet"))
        _write(
            pa.table(
                {
                    "geo_id": [g for g, _ in parts],
                    "geometry": pa.array([b for _, b in parts], pa.binary()),
                }
            ),
            paths[-1],
        )
    return CensusInputs(
        v1_files, v2_files, *paths, n_v1, n_v2, n_revised, n_new, centroids, n_split
    )
