"""Property tests for the SCD-2 merge writer and write-audit-publish
(SURVEY.md §5 strategy 3: idempotence + version-chain invariants)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.store.scd2 import (
    assert_version_invariants,
    current_view,
    empty_versioned,
    scd2_merge,
)
from gerrydb_etl_spark.store.wap import AuditError, VersionedTable, fingerprint_file


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _state(spark, batches):
    state = None
    for i, rows in enumerate(batches, start=1):
        inc = _df(spark, rows)
        if state is None:
            state = empty_versioned(inc)
        state = scd2_merge(state, inc, ["k"], version=i)
    return state


def test_merge_close_and_insert(spark):
    state = _state(spark, [[("a", 1), ("b", 2)], [("a", 10)]])
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in state.collect()}
    assert rows == {
        ("a", 1, 1, 2),  # closed at v2
        ("b", 2, 1, None),  # untouched
        ("a", 10, 2, None),  # new open version
    }
    assert_version_invariants(state, ["k"])


def test_merge_append_fast_path_new_keys_only(spark):
    state = _state(spark, [[("a", 1)], [("b", 2)]])
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in state.collect()}
    assert rows == {("a", 1, 1, None), ("b", 2, 2, None)}
    assert_version_invariants(state, ["k"])


def test_merge_idempotent_reload(spark):
    once = _state(spark, [[("a", 1), ("b", 2)]])
    twice = _state(spark, [[("a", 1), ("b", 2)], [("a", 1), ("b", 2)]])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert_version_invariants(twice, ["k"])


def test_merge_keys_only_idempotent_reload(spark):
    """Keys-only incoming (no value columns): an existing open row is
    by definition unchanged, so skip_unchanged must not degrade to
    unconditional close+insert (round-2 advice: re-loading identical
    keys stacked a new version per run)."""
    inc = spark.createDataFrame([(1,), (2,)], "k long")
    s1 = scd2_merge(empty_versioned(inc), inc, ["k"], version=1)
    s2 = scd2_merge(s1, inc, ["k"], version=2)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    assert_version_invariants(s2, ["k"])
    s3 = scd2_merge(s2, spark.createDataFrame([(3,)], "k long"), ["k"], version=3)
    assert {(r.k, r.valid_from, r.valid_to) for r in s3.collect()} == {
        (1, 1, None),
        (2, 1, None),
        (3, 3, None),
    }


def test_merge_unconditional_mode_stacks_versions(spark):
    inc = _df(spark, [("a", 1)])
    s1 = scd2_merge(empty_versioned(inc), inc, ["k"], version=1, skip_unchanged=False)
    s2 = scd2_merge(s1, inc, ["k"], version=2, skip_unchanged=False)
    rows = {(r.k, r.v, r.valid_from, r.valid_to) for r in s2.collect()}
    assert rows == {("a", 1, 1, 2), ("a", 1, 2, None)}
    assert_version_invariants(s2, ["k"])


def test_merge_long_chain_invariants(spark):
    batches = [
        [("a", 1), ("b", 1), ("c", 1)],
        [("a", 2)],
        [("b", 3), ("d", 1)],
        [("a", 2)],  # unchanged -> no-op for a
        [("a", 4), ("c", 9)],
    ]
    state = _state(spark, batches)
    assert_version_invariants(state, ["k"])
    cur = {(r.k, r.v) for r in current_view(state).collect()}
    assert cur == {("a", 4), ("b", 3), ("c", 9), ("d", 1)}


def test_current_view_drops_interval(spark):
    state = _state(spark, [[("a", 1)], [("a", 2)]])
    cur = current_view(state)
    assert "valid_to" not in cur.columns
    assert [(r.k, r.v, r.valid_from) for r in cur.collect()] == [("a", 2, 2)]


def test_invariant_checker_catches_double_open(spark):
    bad = spark.createDataFrame(
        [("a", 1, 1, None), ("a", 2, 2, None)],
        "k string, v long, valid_from long, valid_to long",
    )
    with pytest.raises(AssertionError, match="open versions"):
        assert_version_invariants(bad, ["k"])


# -- write-audit-publish ------------------------------------------------


def test_wap_publish_and_read(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1), ("b", 2)]), notes="first load")
    assert t.read().count() == 2
    assert t.meta()["notes"] == "first load"


def test_wap_dry_run_not_published(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]), dry_run=True)
    assert t.current_version() is None
    with pytest.raises(FileNotFoundError):
        t.read()


def test_wap_failed_audit_keeps_old_version(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]))
    good = t.current_version()

    def no_nulls(df):
        assert df.filter(F.col("v").isNull()).count() == 0, "null v"

    bad = spark.createDataFrame([("x", None)], "k string, v long")
    with pytest.raises(AuditError, match="null v"):
        t.write(bad, audits=[no_nulls])
    assert t.current_version() == good
    assert t.read().count() == 1


def test_wap_publish_swaps_atomically(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(_df(spark, [("a", 1)]))
    t.write(_df(spark, [("a", 1), ("b", 2), ("c", 3)]))
    assert t.read().count() == 3


def test_fingerprint_file(tmp_path):
    p = tmp_path / "src.bin"
    p.write_bytes(b"abc")
    assert (
        fingerprint_file(str(p))
        == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    )


def test_derivation_tag_distinguishes_function_bodies():
    from gerrydb_etl_spark.store.staging import _derivation_tag

    def builder_a(x):
        return x + 1

    def builder_b(x):
        return x + 2

    assert _derivation_tag(builder_a) != _derivation_tag(builder_b)
    # and it is stable for the same source
    assert _derivation_tag(builder_a) == _derivation_tag(builder_a)


def test_merge_probe_paths_value_identical(spark):
    """The append fast path and the close-and-insert plan must agree
    exactly on a disjoint-key load (the probe only picks the plan,
    never the values), and the probe must not disturb an overlapping
    load's close semantics."""
    inc1 = _df(spark, [("a", 1), ("b", 2)])
    s1 = scd2_merge(empty_versioned(inc1), inc1, ["k"], version=1)
    inc2 = _df(spark, [("c", 3), ("d", 4)])
    fast = scd2_merge(s1, inc2, ["k"], version=2)
    slow = scd2_merge(s1, inc2, ["k"], version=2, probe_append=False)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )
    assert_version_invariants(fast, ["k"])
    # overlap: probe finds the hit, close path runs unchanged
    inc3 = _df(spark, [("a", 10)])
    probed = scd2_merge(fast, inc3, ["k"], version=3)
    pinned = scd2_merge(fast, inc3, ["k"], version=3, probe_append=False)
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, pinned.collect())
    )
    assert {(r.k, r.v, r.valid_from, r.valid_to) for r in probed.collect()} == {
        ("a", 1, 1, 3),
        ("a", 10, 3, None),
        ("b", 2, 1, None),
        ("c", 3, 2, None),
        ("d", 4, 2, None),
    }


def test_staged_model_collects_are_memoized(spark):
    """The IVF / PQ readers re-collected their bounded model tables
    on every query call (1-2 driver jobs per vector query); the
    collects are now memoized by staged-table name, which uniquely
    determines contents (fingerprint + builder-code-hash name,
    deterministic fixed-point builder)."""
    from tests.conftest import SF_ORACLE

    from gerrydb_etl_spark.store.staging import IVF, PQ

    _, cents1 = IVF.read(spark, SF_ORACLE, n_cells=16, iters=2)
    _, cents2 = IVF.read(spark, SF_ORACLE, n_cells=16, iters=2)
    assert cents1 is cents2  # served from the cache, not re-collected
    books1, _ = PQ.read(spark, SF_ORACLE, m_subs=4, n_codes=16, iters=2)
    books2, _ = PQ.read(spark, SF_ORACLE, m_subs=4, n_codes=16, iters=2)
    assert books1 is books2


def test_staged_segmented_vocab_matches_inline(spark):
    """The staged BPE-segmented vocabulary (VERDICT r15 item 1) must
    equal the inline derivation row for row — staging moves WHERE the
    segmenter runs (once per session instead of per query), never
    what it computes, which is what keeps the recursive-CTE replay
    oracles valid."""
    from gerrydb_etl_spark.queries.llm_text import (
        SEGMENTED_VOCAB,
        _segmented_vocab_build,
    )

    sf = "/root/testdata/sf0.001"
    staged = {
        tuple(r) for r in SEGMENTED_VOCAB.read(spark, sf).collect()
    }
    inline = {tuple(r) for r in _segmented_vocab_build(spark, sf).collect()}
    assert staged == inline and staged
