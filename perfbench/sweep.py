"""query_sweep: the analyst's read path over the query registry.

A fixed sample of the registry, drawn by a hash of each query's name
(see ``sample``), runs once per pass, in a seed-shuffled order, each query materialized with a
``noop`` write as ``bench.py`` does. Set-up runs each sampled query
once, which stages the fixtures it reads through the program's own
``ensure_*`` calls, and checks its rows and value hash against its
registered DuckDB oracle with ``tests/oracle_compare.py``.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

import duckdb

import engine
import gen
import layers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = 1
N_QUERIES = 6
# layers the registry exercises only from inside queries
COVER = ["functions.text", "operators.dedup", "operators.ids"]
# salt of the name hash; changing it draws another sample
SAMPLE_SEED = 0


def family(spec) -> str:
    """The ``queries/*`` module a query is registered from."""
    return spec.spark.__module__.rsplit(".", 1)[1]


def direct_layers(fn, traced: dict) -> set[str]:
    """Layers whose public functions ``fn`` references by global name."""
    codes = (getattr(fn.__globals__.get(n), "__code__", None) for n in fn.__code__.co_names)
    return {traced[c][0] for c in codes if c in traced}


def _rank(name: str) -> str:
    """A query's place in the draw: a hash of its name alone, so adding
    or removing other queries never reorders it."""
    return hashlib.sha256(f"{SAMPLE_SEED}:{name}".encode()).hexdigest()


def sample(registry) -> list[str]:
    """A fixed draw from the registry by ``_rank``: for each of
    ``COVER`` the lowest-ranked query that calls the layer directly
    (unless an earlier pick already does), the lowest-ranked streaming
    head, then the lowest-ranked query of each of the lowest-ranked
    further ``queries/*`` modules, ``N_QUERIES`` in all."""
    traced = layers.targets()
    names = sorted(n for n in registry if not n.endswith("_verify"))
    uses = {n: direct_layers(registry[n].spark, traced) for n in names}
    picked: list[str] = []
    for layer in COVER:
        if not any(layer in uses[n] for n in picked):
            picked.append(min((n for n in names if layer in uses[n]), key=_rank))
    picked.append(min((n for n in names if "stream" in n), key=_rank))
    rest = {family(registry[n]) for n in names} - {family(registry[n]) for n in picked}
    for fam in sorted(rest, key=_rank)[: N_QUERIES - len(picked)]:
        picked.append(
            min((n for n in names if family(registry[n]) == fam and "stream" not in n), key=_rank)
        )
    return sorted(picked)


def sampled_families() -> list[str]:
    """The ``queries/*`` modules the sample draws from."""
    from gerrydb_etl_spark.queries import REGISTRY

    return sorted({family(REGISTRY[n]) for n in sample(REGISTRY)})


class Sweep:
    name = "query_sweep"
    unit = "queries completed"

    def __init__(self, root: str, seed: int):
        from gerrydb_etl_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.sf_dir = os.path.join(root, "tables")
        self.rows = gen.write_star_tables(self.sf_dir, seed, SCALE)
        self.queries = sample(REGISTRY)
        self.seed = seed
        self.items = self.ops_per_pass = len(self.queries)
        self.sizes = {"scale": SCALE, "queries": self.queries, **self.rows}
        self.warehouse = None

    def stage(self, spark, t) -> engine.Staged:
        """Run every sampled query once, collecting its result: this
        stages the fixtures it reads. Each result is compared with the
        query's DuckDB oracle."""
        sys.path.insert(0, os.path.join(REPO, "tests"))
        from oracle_compare import duck_digest, table_digest

        con = duckdb.connect()
        for tbl in self.rows:
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{self.sf_dir}/{tbl}.parquet'")
        errors = []
        check_s = 0.0
        for name in self.queries:
            spec = self.registry[name]
            with t.span("queries", f"{family(spec)}.{name}"):
                df = spec.spark(spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            t0 = time.perf_counter()
            got = table_digest(df.columns, rows)
            if spec.oracle and got != duck_digest(con, spec.oracle):
                errors.append(f"{name}: differs from its oracle ({got[0]} rows)")
            check_s += time.perf_counter() - t0
            spark.catalog.clearCache()
        con.close()
        return engine.Staged(len(self.queries), errors, check_s)

    def run_pass(self, spark, t, i: int):
        order = list(self.queries)
        random.Random(f"{self.seed}-{i}").shuffle(order)
        lat = {}
        for name in order:
            spec = self.registry[name]
            t0 = time.perf_counter()
            with t.span("queries", f"{family(spec)}.{name}"):
                df = spec.spark(spark, self.sf_dir)
                with t.span("session", "noop_sink"):
                    df.write.format("noop").mode("overwrite").save()
            lat[name] = time.perf_counter() - t0
            with t.span("session", "clear_cache"):
                spark.catalog.clearCache()
        return lat, engine.dir_bytes(self.warehouse), None

    def check(self, root) -> list[str]:
        """A pass's results were compared with the oracles in set-up;
        the noop sink leaves nothing to check."""
        return []

    def cleanup(self, root) -> None:
        pass
