"""The staging registry's contract (store/staging.py), checked for
every instance a consumer registers, plus two processes staging into
one shared warehouse at the same time."""

from __future__ import annotations

import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time

import pytest

import gerrydb_etl_spark.queries  # noqa: F401  (registers every instance)
from gerrydb_etl_spark.store import staging
from tests.conftest import SF_SMOKE

KEYS = sorted(staging.REGISTRY)
SOURCE_TABLES = ("documents", "embeddings", "lineitem", "orders")


@pytest.fixture(scope="module")
def sf_copy(tmp_path_factory):
    """A copy of the source tables whose mtimes a test may touch."""
    d = tmp_path_factory.mktemp("sf")
    for t in SOURCE_TABLES:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def _fingerprint(inst, sf_dir: str) -> str:
    """The source fingerprint an instance's name carries: its own
    tables', or (for a fixture over another fixture) its input's."""
    f, p = inst.fixture, dict(inst.params)
    if f.tables:
        return staging._source_fingerprint(
            sf_dir, tuple(t.format(**p) for t in f.tables)
        )
    (dep,) = inst.inputs()
    return _fingerprint(dep, sf_dir)


def _sources(inst) -> set[str]:
    p = dict(inst.params)
    out = {t.format(**p) for t in inst.fixture.tables}
    for dep in inst.inputs():
        out |= _sources(dep)
    return out


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_build_order_covers_every_key_inputs_first():
    """The bench stages each registered key once, after the registered
    instances it reads (so a key times only its own build)."""
    order = [k for k, _ in staging.build_order()]
    assert sorted(order) == KEYS == sorted([
        "bucketed_facts", "components", "copurchase_pairs", "dhash_fps",
        "docs_epochs", "emb_epochs", "ivf_c16", "ivf_c4", "kmeans_k4",
        "kmeans_k8", "lsh_sigs", "minhash_bands", "orders_epochs", "pq",
        "segmented_vocab", "shingles_n3", "shingles_n5", "simhash_fps",
        "split_ivf_c4", "split_kmeans_k4", "token_codes", "token_hashes",
        "winnow_k3", "winnow_k5",
    ])
    for before, after in [
        ("shingles_n3", "components"), ("shingles_n3", "minhash_bands"),
        ("token_hashes", "simhash_fps"), ("token_codes", "winnow_k3"),
        ("token_codes", "winnow_k5"), ("kmeans_k4", "split_kmeans_k4"),
        ("ivf_c4", "split_ivf_c4"),
    ]:
        assert order.index(before) < order.index(after), (before, after)


@pytest.mark.parametrize("key", KEYS)
def test_registered_instance_contract(spark, sf_copy, monkeypatch, key):
    inst = staging.REGISTRY[key]
    f = inst.fixture
    names = inst.names(spark, sf_copy)

    # the name embeds the source fingerprint and the derivation tag
    fp = _fingerprint(inst, sf_copy)
    assert all(re.search(rf"_{fp}(_|$)", n) for n in names), (names, fp)
    if f.code:
        tag = staging._derivation_tag(*f.code)
        assert all(re.search(rf"_{tag}(_|$)", n) for n in names), names
        # an edit of the derivation code mints a new name
        real_getsource = staging.inspect.getsource
        with monkeypatch.context() as m:
            m.setattr(
                staging.inspect,
                "getsource",
                lambda obj: real_getsource(obj) + "\n# edited",
            )
            edited = inst.names(spark, sf_copy)
        assert not set(edited) & set(names), edited
    else:
        # the one fixture that derives nothing: a bucketed re-layout
        # of its two source tables, named by their fingerprint alone
        assert key == "bucketed_facts" and names == tuple(
            f"bq_{t}_{fp}" for t in ("orders", "lineitem")
        )

    # regenerated source data (a new mtime) mints a new name
    later = time.time() + 5
    for t in _sources(inst):
        os.utime(os.path.join(sf_copy, f"{t}.parquet"), (later, later))
    assert not set(inst.names(spark, sf_copy)) & set(names)

    # a second ensure in the same session writes nothing
    first = inst.ensure(spark, SF_SMOKE)
    root = staging.session_root(spark)
    before = _snapshot(root)
    assert inst.ensure(spark, SF_SMOKE) == first
    assert _snapshot(root) == before


# -- two processes, one warehouse ----------------------------------------


def _wait_for(path: str, timeout: float = 240.0) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise TimeoutError(path)
        time.sleep(0.1)


def _child(name: str, other: str, warehouse: str, sync: str) -> None:
    """One session: create its root, wait for the other's, stage and
    read the shingles and an epoch directory while the other does the
    same, and report digests and whether its own files stayed put."""
    from gerrydb_etl_spark.session import get_spark
    from gerrydb_etl_spark.streaming.stream import EPOCH_DIR
    from tests.oracle_compare import spark_digest

    spark = get_spark(
        app_name=f"two-process-{name}", cpus=2, shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    root = staging.session_root(spark)
    with open(os.path.join(sync, f"{name}.root"), "w") as fh:
        fh.write(root)
    _wait_for(os.path.join(sync, f"{other}.root"))

    epochs = EPOCH_DIR.at(
        table="documents", key_col="doc_id", prefix="docs", n_batches=2,
        files_per_batch=1,
    )
    staging.SHINGLES.at(n=3).ensure(spark, SF_SMOKE)
    epoch_dir = epochs.ensure(spark, SF_SMOKE)
    staged = _snapshot(root)
    open(os.path.join(sync, f"{name}.staged"), "w").close()
    _wait_for(os.path.join(sync, f"{other}.staged"))

    out = {
        "root": root,
        "shingles": spark_digest(staging.SHINGLES.read(spark, SF_SMOKE, n=3)),
        "epochs": spark_digest(spark.read.parquet(epoch_dir)),
        "epoch_dir": epoch_dir,
    }
    out["untouched"] = _snapshot(root) == staged
    with open(os.path.join(sync, f"{name}.json"), "w") as fh:
        json.dump(out, fh)
    open(os.path.join(sync, f"{name}.done"), "w").close()
    # stay alive until the other session has read its rows too
    _wait_for(os.path.join(sync, f"{other}.done"))
    spark.stop()


def test_two_processes_share_one_warehouse(spark, duck, tmp_path):
    from gerrydb_etl_spark.operators.dedup import shingle_rows
    from gerrydb_etl_spark.sources import load_table
    from tests.oracle_compare import duck_digest, spark_digest

    warehouse, sync = tmp_path / "wh", tmp_path / "sync"
    sync.mkdir()
    base = warehouse / "_staged"
    host = socket.gethostname()
    # a root left behind by a session that has exited...
    gone = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    )
    dead = base / f"{gone.stdout.strip()}@{host}@local-exited"
    dead.mkdir(parents=True)
    (dead / "part-0.parquet").write_bytes(b"x")
    # ...and one of a live session (this process)
    live = base / f"{os.getpid()}@{host}@local-live"
    live.mkdir()
    (live / "part-0.parquet").write_bytes(b"y")
    live_before = _snapshot(str(live))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    with (sync / "a.log").open("w") as log_a, (sync / "b.log").open("w") as log_b:
        procs = [
            subprocess.Popen(
                [sys.executable, __file__, name, other, str(warehouse), str(sync)],
                cwd=repo, env=env, stdout=subprocess.DEVNULL, stderr=log,
            )
            for name, other, log in (("a", "b", log_a), ("b", "a", log_b))
        ]
        try:
            for p in procs:
                p.wait(timeout=600)
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
    for p, name in zip(procs, ("a", "b")):
        assert p.returncode == 0, (sync / f"{name}.log").read_text()[-3000:]
    a, b = (json.loads((sync / f"{n}.json").read_text()) for n in ("a", "b"))

    docs_df = load_table(spark, SF_SMOKE, "documents")
    shingles = spark_digest(
        shingle_rows(docs_df, "doc_id", "text", 3, with_size=True)
    )
    docs = duck_digest(duck, f"SELECT * FROM '{SF_SMOKE}/documents.parquet'")
    for r in (a, b):
        assert r["shingles"] == list(shingles)
        assert r["epochs"] == list(docs)
        assert r["untouched"], "a session's files changed while the other ran"
    assert a["root"] != b["root"]
    assert os.path.basename(a["epoch_dir"]) == os.path.basename(b["epoch_dir"])
    assert not dead.exists(), "the exited session's root was not removed"
    assert _snapshot(str(live)) == live_before


if __name__ == "__main__":
    _child(*sys.argv[1:5])
