"""Recall/property tests for the approximate dedup operators (which
have no SQL oracle) plus unit checks on the text expressions."""

from __future__ import annotations

from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.text import lang_id, rolling_fingerprint, tokenize
from gerrydb_etl_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
)
from gerrydb_etl_spark.sources import load_table
from tests.conftest import SF_ORACLE


def _true_pairs(spark, threshold=0.8):
    docs = load_table(spark, SF_ORACLE, "documents")
    return {
        (r.d1, r.d2)
        for r in jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }


def test_minhash_lsh_recall(spark):
    """Every true near-dup pair (exact Jaccard >= 0.8) must be
    recovered by the banded-LSH candidate pass. With 8 bands x 4
    rows, P(miss at s=0.8) = (1-0.8^4)^8 ~ 1.5%, and the planted
    pairs sit at s~0.98 where P(miss) ~ 1e-9 — so full recall is a
    deterministic expectation, not luck."""
    truth = _true_pairs(spark, threshold=0.8)
    assert truth, "test corpus should contain planted near-duplicates"
    docs = load_table(spark, SF_ORACLE, "documents")
    found = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.7
        ).collect()
    }
    missed = truth - found
    assert not missed, f"LSH missed true near-dup pairs: {sorted(missed)[:5]}"


def test_minhash_estimate_tracks_exact(spark):
    """Signature-estimated Jaccard should be close to exact Jaccard
    on the recovered pairs (binomial n=32 -> ±0.25 is a >5-sigma
    bound at s~0.98)."""
    docs = load_table(spark, SF_ORACLE, "documents")
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    }
    est = {
        (r.d1, r.d2): r.est_jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7).collect()
    }
    for pair, j in exact.items():
        assert pair in est
        assert abs(est[pair] - j) <= 0.25, f"{pair}: est {est[pair]} vs exact {j}"


def _degenerate_corpus(spark, n_identical: int):
    """n byte-identical docs (quadratic LSH bucket) + one genuinely
    near-dup pair of distinct texts (17 of 19 shared 3-gram shingles,
    Jaccard 0.89 — signature-estimate miss probability <1e-4)."""
    base = " ".join(f"w{i}" for i in range(20))
    rows = [(i, base) for i in range(n_identical)]
    near = " ".join(f"x{i}" for i in range(20))
    rows.append((10_000, near))
    rows.append((10_001, near.rsplit(" ", 1)[0] + " CHANGED"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    """Degenerate corpus: hundreds of identical docs collapse into
    one bucket per band whose self-join is quadratic. The cap drops
    those buckets (bounding candidate volume) while genuinely
    distinct near-dup pairs in small buckets still surface —
    identical docs are the exact tier's job (exact_dedup)."""
    df = _degenerate_corpus(spark, 200)
    capped = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=50).collect()
    }
    assert (10_000, 10_001) in capped, "cap must not drop small-bucket pairs"
    assert all(d1 >= 10_000 for d1, _ in capped), "hot-bucket pairs must be dropped"
    # without the cap the identical block alone is C(200,2) pairs
    uncapped = minhash_lsh_pairs(df, "doc_id", "text", max_bucket_size=None).count()
    assert uncapped >= 200 * 199 // 2


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    """Same guard on the SimHash chunk-bucket join: identical docs
    share every chunk bucket; the cap suppresses the quadratic block."""
    df = _degenerate_corpus(spark, 200)
    capped = {
        (r.d1, r.d2)
        for r in simhash_pairs(df, "doc_id", "text", max_bucket_size=50).collect()
    }
    assert all(d1 >= 10_000 for d1, _ in capped)
    uncapped = simhash_pairs(df, "doc_id", "text", max_bucket_size=None).count()
    assert uncapped >= 200 * 199 // 2


def test_simhash_identical_and_near_texts(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # identical
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # one token off
        (4, "completely different words entirely unrelated content here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc: r.fingerprint for r in simhash(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2], "identical texts must share a fingerprint"

    def ham(a: int, b: int) -> int:
        # mask to uint64: Python's bin() of a negative XOR result
        # counts magnitude bits, not two's-complement bits
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    ham_13 = ham(fps[1], fps[3])
    ham_14 = ham(fps[1], fps[4])
    assert ham_13 < ham_14, "near text must be closer than unrelated text"

    pairs = {
        (r.d1, r.d2): r.hamming
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_simhash_pairs_on_corpus_cover_planted_dups(spark):
    """The planted ~0.98-Jaccard pairs differ by a handful of tokens,
    so their SimHash Hamming distance is small; chunk blocking is
    complete for distance <= 3, and the pass must find at least one
    planted pair without drowning in false positives."""
    docs = load_table(spark, SF_ORACLE, "documents")
    truth = _true_pairs(spark, threshold=0.95)
    found = {
        (r.d1, r.d2)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert found & truth, "simhash found none of the planted near-dups"


def test_lang_id_prefers_alphabetical_on_tie(spark):
    df = spark.createDataFrame([("the la",)], ["text"])  # en hit + es/fr hit
    # 'the' hits en; 'la' hits es AND fr -> all tie at 1 -> 'en' wins
    # only if en >= others alphabetically after de; de has 0 hits.
    row = df.select(lang_id(tokenize(F.col("text"))).alias("p")).collect()[0]
    assert row.p == "en"


def test_lang_id_und_when_no_hits(spark):
    df = spark.createDataFrame([("qqq zzz xxx",)], ["text"])
    row = df.select(lang_id(tokenize(F.col("text"))).alias("p")).collect()[0]
    assert row.p == "und"


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",)], ["text"])
    fps = [
        r.fp
        for r in df.select(
            rolling_fingerprint(tokenize(F.col("text"))).alias("fp")
        ).collect()
    ]
    assert fps[0] != fps[1], "fingerprint must be order-sensitive"


def test_shingle_df_cap_recall(spark):
    """Pins the max_shingle_df recall trade-off: a true near-dup
    pair whose shared shingles are ALL above the cap (pure
    boilerplate text duplicated across more docs than the cap) is
    invisible to the capped inverted index BY DESIGN, and visible
    again uncapped. Production guidance lives in the jaccard_pairs
    docstring: such corpora belong to the exact tier or need a
    higher cap."""
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [(i, boiler) for i in range(1, 9)]  # every shingle df=8
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = jaccard_pairs(df, "doc_id", "text", max_shingle_df=5).count()
    assert capped == 0, "all shared shingles above cap -> pair designed-dropped"
    uncapped = {
        (r.d1, r.d2)
        for r in jaccard_pairs(df, "doc_id", "text", max_shingle_df=None).collect()
    }
    assert (1, 2) in uncapped and len(uncapped) == 8 * 7 // 2


def _leftmost_repeat(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Python reference of the ORACLE's recursive-CTE semantics:
    per merge rank, repeatedly replace the LEFTMOST sentinel-space
    occurrence of ' a b ' with ' ab ' until none remains."""
    sym = " " + " ".join(word) + " " if word else " "
    for a, b in merges:
        pat, repl = f" {a} {b} ", f" {a}{b} "
        while (i := sym.find(pat)) >= 0:
            sym = sym[:i] + repl + sym[i + len(pat):]
    return sym.split()


def _fold_reference(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Python reference of the SPARK side's single-pass fold."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_apply_fold_equals_leftmost_repeat():
    """bpe_segment_apply's correctness rests on the Spark fold and
    the oracle's leftmost-replacement recursion computing the same
    segmentation for any fixed merge sequence — pinned on
    adversarial runs (overlapping pairs, self-pairs, merged symbols
    re-pairing)."""
    import itertools
    import random

    cases = [
        ("aaaa", [("a", "a")]),
        ("aaaaa", [("a", "a"), ("aa", "a")]),
        ("ababab", [("a", "b"), ("ab", "ab")]),
        ("aabbaabb", [("a", "b"), ("b", "a")]),
        ("baaab", [("a", "a"), ("b", "aa")]),
        ("", [("a", "b")]),
        ("x", [("x", "x")]),
    ]
    rng = random.Random(8)
    for _ in range(200):
        word = "".join(rng.choice("ab") for _ in range(rng.randint(0, 10)))
        ms = [
            (rng.choice(["a", "b", "aa", "ab"]), rng.choice(["a", "b", "ab"]))
            for _ in range(rng.randint(1, 4))
        ]
        cases.append((word, ms))
    for word, ms in cases:
        assert _fold_reference(word, ms) == _leftmost_repeat(word, ms), (
            word,
            ms,
        )


def test_bpe_apply_spark_fold_matches_python_reference(spark):
    """The nested-aggregate Spark expression implements exactly the
    single-pass fold (and therefore, by the test above, the oracle's
    recursion)."""
    from gerrydb_etl_spark.queries.llm_text import _apply_merge

    merges = [("a", "a"), ("b", "a"), ("aa", "b")]
    words = ["aaaa", "babab", "baab", "abba", "a", "", "bbbb", "aabaab"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    symbols = F.split(F.col("word"), "")
    for left, right in merges:
        symbols = _apply_merge(symbols, left, right)
    got = {r.word: r.pieces for r in df.select("word", symbols.alias("pieces")).collect()}
    for w in words:
        expect = _fold_reference(w, merges)
        # split('', '') yields [''] in Spark; the empty word never
        # occurs in a tokenized corpus — normalize for the comparison
        if w == "":
            expect = [""]
        assert got[w] == expect, w


def test_minhash_probe_pairs_unit(spark):
    """Unit contract of the incremental probe: (a) candidates come
    only from batch-vs-corpus bucket collisions; (b) a doc present
    on both sides never pairs with itself; (c) an over-cap existing
    bucket is dropped entirely (the degenerate-corpus guard)."""
    from gerrydb_etl_spark.operators.dedup import (
        minhash_probe_pairs,
        shingle_rows,
    )

    def rows(pairs):
        df = spark.createDataFrame(pairs, "doc_id long, text string")
        return shingle_rows(df, "doc_id", "text", 3, with_size=True)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # corpus doc 0 == batch doc 101's text; batch doc 103 is unrelated
    existing = rows([(0, base), (2, "one two three four five six")])
    incoming = rows([(101, base), (103, "totally different words here now")])
    got = {
        (r.batch_doc, r.corpus_doc)
        for r in minhash_probe_pairs(existing, incoming, threshold=0.7).collect()
    }
    assert got == {(101, 0)}

    # self-pair exclusion: doc 0 on BOTH sides must not match itself
    both = rows([(0, base)])
    got2 = minhash_probe_pairs(existing, both, threshold=0.7).collect()
    assert [(r.batch_doc, r.corpus_doc) for r in got2] == []

    # hot-bucket cap: 5 identical existing docs exceed cap=4 -> the
    # bucket is dropped and the probe finds nothing
    clones = rows([(i, base) for i in range(5)])
    got3 = minhash_probe_pairs(
        clones, rows([(200, base)]), threshold=0.7, max_bucket_size=4
    ).collect()
    assert got3 == []
    # ...and with the cap lifted all five surface
    got4 = {
        (r.batch_doc, r.corpus_doc)
        for r in minhash_probe_pairs(
            clones, rows([(200, base)]), threshold=0.7, max_bucket_size=None
        ).collect()
    }
    assert got4 == {(200, i) for i in range(5)}


def test_minhash_probe_pairs_names_the_missing_side(spark):
    """A side given neither shingle rows nor pre-banded rows fails up
    front with a ValueError naming that side, not an AttributeError
    from inside the signature build."""
    import pytest

    from gerrydb_etl_spark.operators.dedup import (
        minhash_probe_pairs,
        shingle_rows,
    )

    rows = shingle_rows(
        spark.createDataFrame([(0, "alpha beta gamma delta")], "doc_id long, text string"),
        "doc_id", "text", 3, with_size=True,
    )
    with pytest.raises(ValueError, match="existing side"):
        minhash_probe_pairs(None, rows)
    with pytest.raises(ValueError, match="incoming side"):
        minhash_probe_pairs(rows, None)


def test_hamming_pigeonhole_guard_rejects_incomplete_distance(spark):
    """ADVICE r8: the 4-chunk blocking scheme is only COMPLETE for
    Hamming distance <= 3; max_hamming=4 would silently lose pairs,
    so both pair generators must refuse it."""
    import pytest

    from gerrydb_etl_spark.operators.dedup import (
        chunked_hamming_pairs,
        simhash_pairs,
    )

    fps = spark.createDataFrame(
        [(1, 0, 0, 0, 0)], "doc long, c0 long, c1 long, c2 long, c3 long"
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        chunked_hamming_pairs(fps, max_hamming=4)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, "doc_id", "text", max_hamming=4)
