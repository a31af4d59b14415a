"""Per-layer metrics of a traced run.

A layer is a set of the program's modules. In a traced pass every call
of a public function (or public method of a public class) defined in
a layer module gets a span, from a profile hook, so calls made inside
other layers are seen as well as the benchmark's own; nothing in the
program is changed. Spark's job and stage records are attributed to
spans by submission time; streaming micro-batches come from a
listener.
"""

import importlib
import inspect
import os

import engine
import spans as sp

PKG = "gerrydb_etl_spark"
LAYER_MODULES = {
    "sources": ["sources.formats", "sources.registry", "sources.census_levels"],
    "plans": ["plans.config", "plans.census"],
    "operators.validate": ["operators.validate"],
    "geo": ["geo.kernels", "geo.utm"],
    "store.eav": ["store.eav"],
    "store.scd2": ["store.scd2"],
    "store.wap": ["store.wap"],
    "functions.text": ["functions.text"],
    "operators.dedup": ["operators.dedup"],
    "operators.ids": ["operators.ids"],
    "store.staging": ["store.staging"],
}
# fixture builders that live next to their consumers
STAGING_ELSEWHERE = ["store.bucketing", "streaming.stream"]
LAYERS = [*LAYER_MODULES, "queries"]
STREAM_DURATIONS = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
}


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield obj
        elif inspect.isclass(obj):
            yield from (
                f for n, f in vars(obj).items() if inspect.isfunction(f) and not n.startswith("_")
            )


def targets() -> dict:
    """code -> (layer, name) for every traced function."""
    out = {}
    for layer, mods in LAYER_MODULES.items():
        for m in mods:
            for fn in _public_functions(importlib.import_module(f"{PKG}.{m}")):
                out[fn.__code__] = (layer, fn.__qualname__)
    for m in [*LAYER_MODULES["store.staging"], *STAGING_ELSEWHERE]:
        for fn in _public_functions(importlib.import_module(f"{PKG}.{m}")):
            if fn.__name__.startswith("ensure_"):
                out[fn.__code__] = ("store.staging", fn.__qualname__)
    return out


def snapshot(path: str) -> dict:
    """(size, mtime) of every file under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def hit_rate(before: dict, after: dict) -> float:
    """Share of the files after a second staging pass that the pass
    left as they were; 1.0 when it wrote nothing."""
    if not after:
        return 1.0
    return sum(before.get(k) == v for k, v in after.items()) / len(after)


def layer_metrics(
    spark, passes, setup, tracer, staging_hit_rate, families
) -> tuple[dict, list[dict]]:
    """Per-pass averages over the traced passes, and one record per
    traced span with its self time, jobs, task time and driver gap.
    ``families`` are the ``queries/*`` modules that get a latency."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    windows = [(p["t0"], p["t1"]) for p in traced]
    spans = [
        s for s in tracer.spans if any(a <= s.start and s.end <= b for a, b in windows)
    ]
    jobs = [
        j for j in engine.read_jobs(spark) if any(a <= j.submitted <= b for a, b in windows)
    ]
    stages = engine.read_stages(spark)
    self_t = sp.self_times(spans)
    owned = sp.attribute_jobs(spans, jobs)
    by_id = {s.sid: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def descendants_jobs(s, skip: str | None = None):
        """Jobs submitted anywhere inside ``s``, except under spans of
        layer ``skip``."""
        out = list(owned.get(s.sid, []))
        for c in children.get(s.sid, []):
            if c.layer != skip:
                out += descendants_jobs(c, skip)
        return out

    def outermost(layer):
        """Spans of ``layer`` not nested in another span of it."""
        out = []
        for s in spans:
            p = by_id.get(s.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if s.layer == layer and p is None:
                out.append(s)
        return out

    m: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        m[f"{layer}.calls"] = (len(mine) / n, "count")
        m[f"{layer}.self_s"] = (sum(self_t[s.sid] for s in mine) / n, "s")
        # jobs the calls ran before any sink (a "session" span)
        eager = sum(len(descendants_jobs(s, skip="session")) for s in outermost(layer))
        m[f"{layer}.eager_jobs"] = (eager / n, "count")
        m[f"{layer}.failed"] = (sum(s.failed for s in mine) / n, "count")

    checks = [s for s in spans if s.layer == "operators.validate" and s.name == "fail_if_nonempty"]
    m["operators.validate.jobs_per_check"] = (
        sum(len(descendants_jobs(s)) for s in checks) / max(1, len(checks)),
        "ratio",
    )
    m["store.staging.hit_rate"] = (staging_hit_rate, "ratio")
    queries = [s for s in spans if s.layer == "queries"]
    m["queries.jobs_per_query"] = (
        sum(len(descendants_jobs(s)) for s in queries) / max(1, len(queries)),
        "ratio",
    )
    # a pass that publishes through write-audit-publish stores nothing else
    wap = any(s.layer == "store.wap" for s in spans)
    m["store.wap.bytes_written"] = (
        sum(p["stored"] for p in traced) / n if wap else 0.0,
        "bytes",
    )
    for fam in families:
        mine = [s for s in queries if s.name.split(".", 1)[0] == fam]
        m[f"queries.{fam}.s"] = (sum(s.dur for s in mine) / n, "s")

    # -- the engine ------------------------------------------------------
    stage_ids = {sid for j in jobs for sid in j.stage_ids}
    st = [stages[i] for i in stage_ids if i in stages]
    tops = [s for s in spans if s.parent is None]
    m["session.start_s"] = (setup["start_s"], "s")
    m["session.warm_s"] = (setup["stage_s"] + setup["warm_pass_s"], "s")
    m["session.jobs"] = (len(jobs) / n, "count")
    m["session.stages"] = (len(st) / n, "count")
    m["session.tasks"] = (sum(s["tasks"] for s in st) / n, "count")
    m["session.failed_tasks"] = (sum(s["failed_tasks"] for s in st) / n, "count")
    m["session.task_s"] = (sum(s["task_s"] for s in st) / n, "s")
    m["session.shuffle_mib"] = (sum(s["shuffle_b"] for s in st) / n / (1 << 20), "MiB")
    m["session.spill_mib"] = (sum(s["spill_b"] for s in st) / n / (1 << 20), "MiB")
    m["session.driver_gap_s"] = (
        sum(sp.driver_gap(s, descendants_jobs(s)) for s in tops) / n,
        "s",
    )

    # -- streaming -------------------------------------------------------
    batches = [b for p in traced for b in p.get("stream_batches", [])]
    m["streaming.triggers"] = (len(batches) / n, "count")
    for name, key in STREAM_DURATIONS.items():
        m[f"streaming.{name}"] = (sum(b.get(key, 0) for b in batches) / 1000.0 / n, "s")

    # -- the trace itself ------------------------------------------------
    m["trace.overhead_s"] = (
        sp.tracing_overhead([p["wall"] for p in traced], [p["wall"] for p in plain]),
        "s",
    )
    m["trace.coverage"] = (sp.coverage(windows, spans), "ratio")

    records = []
    for s in spans:
        mine = descendants_jobs(s)
        records.append(
            {
                **s.__dict__,
                "self_s": self_t[s.sid],
                "jobs": sorted(j.job_id for j in owned.get(s.sid, [])),
                "task_s": sum(
                    stages[i]["task_s"] for i in {i for j in mine for i in j.stage_ids} if i in stages
                ),
                "driver_gap_s": sp.driver_gap(s, mine),
            }
        )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, records
