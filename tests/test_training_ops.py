"""Training-data pipeline operators: dedup, near-dup pairs, text analysis."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "b"),  # exact dup
        (3, "the quick brown fox leaps over the lazy dog", "en", "a"),  # near dup
        (4, "completely different content about spark tables", "en", "b"),
        (5, "", "de", "a"),
    ]
    return spark.createDataFrame(
        [
            {"doc_id": i, "text": t, "lang": lg, "source": s, "n_chars": len(t)}
            for i, t, lg, s in rows
        ]
    )


def test_exact_dedup(spark, docs):
    from helix_html2md_spark.operators.dedup import exact_dup_stats

    stats = {r["source"]: r for r in exact_dup_stats(docs).collect()}
    assert stats["a"]["n_docs"] == 3 and stats["a"]["n_unique"] == 3
    assert stats["b"]["n_docs"] == 2 and stats["b"]["n_unique"] == 2


def test_minhash_groups_exact_dups(spark, docs):
    from helix_html2md_spark.operators.dedup import minhash_dup_groups

    groups = minhash_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2  # docs 1 and 2 share all bands


def test_minhash_candidate_pairs(spark, docs):
    from helix_html2md_spark.operators.dedup import minhash_candidate_pairs

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert (1, 2) in pairs  # exact dup always a candidate
    assert all(a < b for a, b in pairs)


def test_simhash_near_dups_close(spark, docs):
    from helix_html2md_spark.operators.dedup import simhash

    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[1] == fp[2]
    d_near = bin((fp[1] ^ fp[3]) & (2**64 - 1)).count("1")
    d_far = bin((fp[1] ^ fp[4]) & (2**64 - 1)).count("1")
    assert d_near < d_far


def test_simhash_near_dup_pairs(spark, docs):
    """Hamming-join finds the exact/near dups, not the unrelated doc."""
    from helix_html2md_spark.operators.dedup import simhash_near_dup_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, max_distance=16).collect()
    }
    assert pairs[(1, 2)] == 0  # identical docs
    assert (1, 3) in pairs  # one-word edit within distance
    assert (1, 4) not in pairs and (4, 1) not in pairs


def test_candidate_pairs_heavy_bucket_capped(spark):
    """1k identical docs must produce O(n) star pairs, not O(n^2)."""
    from helix_html2md_spark.operators.dedup import minhash_candidate_pairs

    n = 1000
    dupes = spark.createDataFrame(
        [{"doc_id": i, "text": "same boilerplate text everywhere"} for i in range(n)]
    )
    pairs = minhash_candidate_pairs(dupes, max_bucket_size=64).collect()
    assert len(pairs) == n - 1  # star around min doc_id
    assert all(r["doc_a"] == 0 for r in pairs)


def test_jaccard_verified_pairs(spark, docs):
    from helix_html2md_spark.operators.dedup import jaccard_verified_pairs

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verified_pairs(docs, threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0  # exact dup
    assert got[(1, 3)] == pytest.approx(7 / 9, abs=1e-6)  # one-word edit
    assert (1, 4) not in got


def test_dup_components_transitive(spark):
    from helix_html2md_spark.operators.dedup import dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["component"] for r in dup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_bpe_tokens_lossless(spark, docs):
    from helix_html2md_spark.functions.text import bpe_tokens
    from pyspark.sql import functions as F

    out = docs.select(
        "doc_id",
        "text",
        F.array_join(bpe_tokens(F.col("text")), "").alias("rejoined"),
        bpe_tokens(F.col("text")).alias("segs"),
    ).collect()
    for r in out:
        assert r["rejoined"] == r["text"], r["doc_id"]  # lossless segmentation
    one = spark.createDataFrame([("it's 42 foo-bar!",)], "text string")
    segs = one.select(bpe_tokens(F.col("text")).alias("s")).head()["s"]
    assert segs == ["it", "'s", " 42", " foo", "-", "bar", "!"]


def test_quality_features(spark, docs):
    from helix_html2md_spark.functions.text import quality_features

    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)
    assert q[5]["n_tokens"] == 0  # empty doc is safe


def test_dup_components_long_chain(spark):
    """A 40-hop path graph converges within the default iteration budget:
    pointer jumping halves label distances per round (O(log diameter)),
    where plain neighbor-min propagation would need 40 rounds."""
    from helix_html2md_spark.operators.dedup import dup_components

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = {
        r["doc_id"]: r["component"] for r in dup_components(pairs).collect()
    }
    assert comp == {i: 0 for i in range(n + 1)}


def test_dup_components_nonconvergence_warns(spark):
    """Exhausting max_iter with labels still changing must WARN, not
    silently return wrong components."""
    import warnings

    from helix_html2md_spark.operators.dedup import dup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dup_components(pairs, max_iter=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "did not converge" in str(w.message)
        for w in caught
    )


def test_simhash_pigeonhole_invariant():
    """n_blocks <= max_distance silently loses recall -> must raise unless
    the caller opts into the approximate regime; derived block layouts
    always cover all 64 bits."""
    from helix_html2md_spark.operators.dedup import (
        simhash_blocks, simhash_near_dup_pairs,
    )

    with pytest.raises(ValueError, match="probabilistically"):
        simhash_near_dup_pairs(None, max_distance=8, n_blocks=4)
    for n_blocks in (2, 3, 4, 7, 9, 17, 64):
        blocks = simhash_blocks(n_blocks)
        assert len(blocks) == n_blocks
        assert sum(w for _, w in blocks) == 64
        assert blocks[0][0] == 0
        for (off_a, w_a), (off_b, _) in zip(blocks, blocks[1:]):
            assert off_b == off_a + w_a  # contiguous, non-overlapping


def test_release_persisted(spark, docs):
    """Pair generation caches fingerprint tables at diamond points;
    release_persisted() must free them all."""
    from helix_html2md_spark.operators.dedup import (
        _PERSISTED, jaccard_verified_pairs, release_persisted,
    )

    release_persisted()
    jaccard_verified_pairs(docs, threshold=0.5).collect()
    assert len(_PERSISTED) >= 2  # bucket table + pair table
    handles = list(_PERSISTED)
    release_persisted()
    assert not _PERSISTED
    assert all(not h.is_cached for h in handles)


def test_dedup_segments_drops_cross_doc_repeats(spark):
    from helix_html2md_spark.operators.dedup import dedup_segments

    shared = " ".join(f"s{i}" for i in range(16))  # one full segment
    docs = spark.createDataFrame(
        [
            ("a", shared + " " + " ".join(f"a{i}" for i in range(16))),
            ("b", shared + " " + " ".join(f"b{i}" for i in range(16))),
            ("c", " ".join(f"c{i}" for i in range(20))),
        ],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_segments(docs, segment_tokens=16, max_df=1).collect()
    }
    # the shared 16-token segment appears in 2 docs -> dropped everywhere
    assert (out["a"]["n_segments"], out["a"]["n_kept"]) == (2, 1)
    assert (out["b"]["n_segments"], out["b"]["n_kept"]) == (2, 1)
    # doc c: 20 tokens -> 2 segments (16 + 4), both unique -> kept
    assert (out["c"]["n_segments"], out["c"]["n_kept"]) == (2, 2)
    import hashlib

    a_kept = " ".join(f"a{i}" for i in range(16))
    assert out["a"]["kept_md5"] == hashlib.md5(a_kept.encode()).hexdigest()


def test_dedup_segments_all_dropped_and_order(spark):
    from helix_html2md_spark.operators.dedup import dedup_segments

    same = " ".join(f"x{i}" for i in range(32))  # two identical-per-doc segs
    docs = spark.createDataFrame(
        [("a", same), ("b", same)], "doc_id string, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup_segments(docs, segment_tokens=16, max_df=1).collect()
    }
    assert out["a"]["n_kept"] == 0
    assert out["a"]["kept_len"] == 0  # empty reassembly, not NULL
    # order preservation: unique doc keeps its segments in original order
    solo = spark.createDataFrame(
        [("s", " ".join(f"w{i}" for i in range(40)))],
        "doc_id string, text string",
    )
    r = dedup_segments(solo, segment_tokens=16, max_df=1).collect()[0]
    import hashlib

    toks = [f"w{i}" for i in range(40)]
    expect = " ".join(
        " ".join(toks[s : s + 16]) for s in range(0, 40, 16)
    )
    assert r["kept_md5"] == hashlib.md5(expect.encode()).hexdigest()


# --- round-4 review-fix edge cases ------------------------------------------


def test_simhash_exact_mode_distance_zero(spark):
    """max_distance=0 -> one 64-bit block: the full-width block must not
    build a (1<<64)-1 mask literal (JVM long overflow, round-4 review)."""
    from helix_html2md_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta common words here"),
            (2, "alpha beta gamma delta common words here"),
            (3, "entirely different content in this one"),
        ],
        "doc_id long, text string",
    )
    pairs = simhash_near_dup_pairs(docs, max_distance=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [
        (1, 2, 0)
    ]


def test_empty_docs_never_pair_in_lsh(spark):
    """Empty/whitespace docs have no shingles -> null bucket keys; they
    must produce NO candidate pairs on either the light or heavy path
    (recall must not depend on bucket occupancy — round-4 review)."""
    from helix_html2md_spark.operators.dedup import minhash_candidate_pairs

    rows = [(1, "   "), (2, ""), (3, "real content words in here four")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (256, 1):  # light path and forced heavy/star path
        pairs = minhash_candidate_pairs(
            docs, max_bucket_size=cap
        ).collect()
        assert pairs == [], f"cap={cap}: {pairs}"


def test_dup_components_rejects_zero_iters(spark):
    from helix_html2md_spark.operators.dedup import dup_components
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(1, 2)], "doc_a long, doc_b long"
    )
    with _pytest.raises(ValueError):
        dup_components(pairs, max_iter=0)


def test_dedup_segments_keeps_empty_docs(spark):
    from helix_html2md_spark.operators.dedup import dedup_segments
    import hashlib

    docs = spark.createDataFrame(
        [
            (1, "tok " * 20),
            (2, "   "),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_segments(docs).collect()}
    assert set(out) == {1, 2, 3}
    for d in (2, 3):
        assert out[d]["n_segments"] == 0
        assert out[d]["kept_md5"] == hashlib.md5(b"").hexdigest()


def test_exact_dup_stats_counts_null_text(spark):
    from helix_html2md_spark.operators.dedup import exact_dup_stats

    docs = spark.createDataFrame(
        [(1, None, "s"), (2, None, "s"), (3, "same", "s"), (4, "same", "s")],
        "doc_id long, text string, source string",
    )
    row = exact_dup_stats(docs).collect()[0]
    assert row["n_docs"] == 4
    assert row["n_unique"] == 2  # null-text class + the 'same' class


def test_simhash_rejects_other_widths(spark):
    from helix_html2md_spark.operators.dedup import simhash
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        simhash(docs, bits=32)


def test_dedup_segments_whitespace_only_doc_survives(spark):
    """A document whose text is only non-space whitespace ("\\t\\n") is
    token-less and must still emit its one-row-per-input-document row
    (n_segments=0) - F.trim strips only ASCII spaces, so a trim-based
    re-derive predicate loses it (ADVICE r4)."""
    import hashlib

    from helix_html2md_spark.operators.dedup import dedup_segments

    docs = spark.createDataFrame(
        [("a", "\t\n"), ("b", "hello world"), ("c", None), ("d", "  ")],
        "doc_id string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_segments(docs, segment_tokens=16, max_df=1).collect()
    }
    assert set(out) == {"a", "b", "c", "d"}
    empty_md5 = hashlib.md5(b"").hexdigest()
    for did in ("a", "c", "d"):
        assert out[did]["n_segments"] == 0
        assert out[did]["kept_md5"] == empty_md5
    assert out["b"]["n_kept"] == 1


def test_quality_features_single_tokenization(spark):
    """quality_features computes all features from ONE materialized
    token column: exactly one split() in the physical plan (the
    per-helper form inlined seven).  Null-text rows report NULL
    features (and token_count is nullif-guarded so ANSI-off clusters
    can't turn that into -1 — session.py also pins ansi.enabled)."""
    import re

    from helix_html2md_spark.functions.text import (
        quality_features, token_ngrams,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "a b the")], "doc_id long, text string"
    )
    plan = (
        quality_features(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"split\(", plan)) == 1
    rows = {
        r["doc_id"]: (r["n_tokens"], r["stopword_ratio"])
        for r in quality_features(docs).collect()
    }
    assert rows[1] == (None, None)
    assert rows[2][0] == 3
    with pytest.raises(ValueError):
        token_ngrams(None, 0)
    with pytest.raises(ValueError):
        token_ngrams(None, -3)
