"""Semantic tests for the rows-only dedup operators (MinHash, SimHash)
using planted duplicates — the checks the DuckDB oracle can't express
(promised in plans/text_pipeline.py docstrings).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hpat_jl_spark.functions import dedup as D


@pytest.fixture(scope="module")
def planted(spark):
    """20 distinct docs + one exact dup + one near dup (1-word edit)."""
    base = [
        (i, " ".join(f"w{i}x{j}" for j in range(30)) + " common words here")
        for i in range(20)
    ]
    rows = base + [
        (100, base[3][1]),  # exact duplicate of doc 3
        (101, base[5][1].replace("w5x7", "EDITED")),  # near-dup of doc 5
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_dups(planted):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_candidates(planted).collect()
    }
    assert (3, 100) in pairs and pairs[(3, 100)] == 1.0  # exact dup: all mins equal
    assert (5, 101) in pairs and pairs[(5, 101)] >= 0.5  # near dup: high estimate
    # unrelated docs must NOT pair up with high estimated similarity
    high_false = {k: v for k, v in pairs.items() if k not in {(3, 100), (5, 101)} and v > 0.9}
    assert not high_false


def test_simhash_finds_planted_dups(planted):
    # the 1-word edit lands within Hamming distance 6, so the d<=6
    # budget needs >= 7 bands for guaranteed recall (pigeonhole); 10
    # divides the 60-bit portable signature
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_candidates(planted, bands=10, max_hamming=6).collect()
    }
    assert pairs.get((3, 100)) == 0  # identical signature
    assert (5, 101) in pairs  # near dup within hamming budget


def test_simhash_rejects_unguaranteed_budget(planted):
    """ADVICE r01: max_hamming >= bands silently missed pairs at
    distance bands..max_hamming — now an explicit error."""
    with pytest.raises(ValueError, match="pigeonhole"):
        D.simhash_candidates(planted, bands=4, max_hamming=6)


def test_exact_dedup_planted(planted):
    out = D.exact_dedup(planted)
    groups = {r.keep_id: r.n_dups for r in out.collect()}
    assert groups[3] == 2  # doc 3 + doc 100 collapse, keep lowest id
    assert 100 not in groups
    assert out.count() == 21  # 22 docs, one collapsed pair


def test_jaccard_pairs_planted(spark, planted):
    docs = planted.withColumn("bucket", F.lit(1))
    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_pairs(docs, ["bucket"], threshold=0.5).collect()
    }
    assert out[(3, 100)] == 1.0
    assert 0.9 <= out[(5, 101)] < 1.0


def test_neardup_clusters_transitive(spark):
    """A≈B and B≈C must land in ONE cluster keyed by min id, even when
    A and C are farther apart than either is from B — the property
    pairwise dedup lacks. Unrelated docs stay singletons."""
    words = [f"t{i}u{j}" for i in range(4) for j in range(10)]
    base = " ".join(words)
    chain_b = base.replace("t0u0", "EDIT1")
    chain_c = chain_b.replace("t3u9", "EDIT2")  # 2 edits from base
    rows = [
        (10, base),
        (20, chain_b),
        (30, chain_c),
        (40, " ".join(f"z{k}q{k}" for k in range(40))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assign = {
        r.doc_id: r.canonical_id
        for r in D.neardup_clusters(docs, threshold=0.4).collect()
    }
    assert assign[10] == 10 and assign[20] == 10 and assign[30] == 10
    assert assign[40] == 40


def test_minhash_estimates_calibrated(spark):
    """est_jaccard from 32 minhashes must track exact shingle Jaccard
    within ~3σ (σ = sqrt(j(1-j)/32) ≈ 0.09): statistical calibration,
    not just planted-pair retrieval."""

    def shingles3(text):
        t = text.split()
        n = max(len(t) - 2, 1)
        return {" ".join(t[i : i + 3]) for i in range(n)}

    base = [f"w{i}" for i in range(60)]
    docs, expected = [], {}
    for frac in (1.0, 0.8, 0.6):
        # doc pair sharing a prefix of `frac` of the words
        keep = int(60 * frac)
        a = " ".join(base)
        b = " ".join(base[:keep] + [f"alt{i}" for i in range(60 - keep)])
        ia, ib = int(frac * 1000), int(frac * 1000) + 1
        docs += [(ia, a), (ib, b)]
        sa, sb = shingles3(a), shingles3(b)
        expected[(ia, ib)] = len(sa & sb) / len(sa | sb)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_candidates(df, bands=16).collect()
    }
    for pair, exact in expected.items():
        assert pair in got, f"pair {pair} (exact J={exact:.2f}) not retrieved"
        assert abs(got[pair] - exact) <= 0.3, (pair, got[pair], exact)


def test_prefix_filter_exactness(spark, planted):
    """Prefix filtering must find EXACTLY the pairs brute-force Jaccard
    finds — no false negatives (the guarantee LSH gives up)."""
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.prefix_filter_jaccard(planted, threshold=0.4).collect()
    }
    toks = {
        r.doc_id: set(r.text.split()) for r in planted.collect()
    }
    ids = sorted(toks)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if round(j, 4) >= 0.4:
                want[(a, b)] = round(j, 4)
    assert got == want and want  # non-empty: planted dups must appear


def test_keep_first_paragraphs_planted(spark):
    """Keep-first semantics: only the globally (doc_id, pos)-first
    occurrence of each paragraph survives, across AND within docs."""
    rows = [
        (1, 0, "X"), (1, 1, "Y"),
        (2, 0, "X"), (2, 1, "Z"),
        (3, 0, "Y"), (3, 1, "Q"), (3, 2, "X"), (3, 3, "Q"),
    ]
    paras = spark.createDataFrame(rows, "doc_id long, pos long, para string")
    kept = {
        (r.doc_id, r.pos, r.para)
        for r in D.keep_first_paragraphs(paras).collect()
    }
    assert kept == {(1, 0, "X"), (1, 1, "Y"), (2, 1, "Z"), (3, 1, "Q")}


def test_fuzzy_decontaminate_finds_planted_eval_near_dup(spark, tmp_path):
    """A training doc that is a lightly-edited copy of an eval doc
    (doc_id % 10 == 0) must be flagged with the exact shingle overlap;
    an unrelated training doc must not be."""
    from pyspark.sql import functions as F  # noqa: F401

    from hpat_jl_spark import registry

    registry.load_all_plans()
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight") * 3
    rows = [
        (10, base, "en", "src0", len(base)),                  # eval doc
        (11, base + " extra tail words here", "en", "src0",
         len(base) + 22),                                      # near-copy
        (13, "completely different content about databases and "
             "distributed systems engineering " * 5, "en", "src1", 400),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    out = {
        (r.corpus_doc, r.eval_doc): (r.n_inter, r.n_union)
        for r in registry.REGISTRY["fuzzy_decontaminate"].fn(spark, sf).collect()
    }
    assert (11, 10) in out
    n_inter, n_union = out[(11, 10)]
    assert 2 * n_inter >= n_union and n_inter >= 1
    assert all(c != 13 for c, _ in out)


def test_minhash_sig_banding_equals_id_banding(spark):
    """The r6 sig-level band join (distinct signatures keyed by md5
    fingerprint, id pairs expanded only at output) must produce EXACTLY
    the candidate set of the definitional id-level banding — same
    pairs, no duplicates, same est_jaccard — including through a 4-way
    verbatim clique where the same-signature expansion does the work."""
    base = [
        (i, " ".join(f"t{i}w{j}" for j in range(25)) + " shared tail words")
        for i in range(12)
    ]
    rows = base + [
        (200, base[2][1]),  # 4-way exact clique: {2, 200, 201, 202}
        (201, base[2][1]),
        (202, base[2][1]),
        (300, base[7][1].replace("t7w3", "ED1")),  # near-dups of doc 7
        (301, base[7][1].replace("t7w9", "ED2")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    num_hashes, bands = 32, 8
    rpb = num_hashes // bands

    sigs = {
        r.id: [r[f"mh{i}"] for i in range(num_hashes)]
        for r in D.minhash_signatures(df).collect()
    }
    from collections import defaultdict

    expected_pairs = set()
    for b in range(bands):
        buckets = defaultdict(list)
        for i, s in sigs.items():
            buckets[tuple(s[b * rpb : (b + 1) * rpb])].append(i)
        for ids in buckets.values():
            expected_pairs.update(
                (x, y) for x in ids for y in ids if x < y
            )
    expected = {
        (x, y): sum(a == b for a, b in zip(sigs[x], sigs[y])) / num_hashes
        for (x, y) in expected_pairs
    }

    out = D.minhash_candidates(df).collect()
    assert len(out) == len({(r.id_a, r.id_b) for r in out})  # no dup rows
    got = {(r.id_a, r.id_b): r.est_jaccard for r in out}
    assert set(got) == set(expected)
    for pair in expected:
        assert abs(got[pair] - expected[pair]) < 1e-12, (
            pair, got[pair], expected[pair],
        )
    # the verbatim clique must be fully present at est 1.0
    clique = {2, 200, 201, 202}
    for x in clique:
        for y in clique:
            if x < y:
                assert got[(x, y)] == 1.0


def test_span_report_pin_is_conditional_on_scan_starvation(spark):
    """r12 fix: duplicate_span_report's split-starvation repartition
    must fire only when the scan feeds under a quarter of the cores.
    The chunker's md5 is too light to dwarf a raw-text exchange on a
    split-rich input (×10 tier: 2.27 s pinned vs 0.75 s unpinned), so
    an unconditional pin was a scale regression. Pure-logic table plus
    a plan assertion on the suite's 4-core session (1 scan split ⇒
    1*4 >= 4 ⇒ no pin)."""
    from hpat_jl_spark.session import starved_scan_pin_width as _starved_scan_pin_width
    from hpat_jl_spark.registry import REGISTRY, load_all_plans

    # ADVICE r12: benchmark_decontaminate registers from
    # plans/llm_pipeline, which this file never imports — standalone
    # runs of test_dedup.py relied on an earlier test file having
    # called load_all_plans().
    load_all_plans()

    # (scan_parts, cores, sized) -> width or None
    assert _starved_scan_pin_width(1, 32, 8) == 32    # starved bench fixture
    assert _starved_scan_pin_width(1, 32, 75) == 75   # starved, byte-sized wider
    assert _starved_scan_pin_width(7, 32, 8) == 32    # still under cores/4
    assert _starved_scan_pin_width(8, 32, 75) is None # at cores/4: no pin
    assert _starved_scan_pin_width(10, 32, 75) is None  # ×10 staged tier
    assert _starved_scan_pin_width(25, 32, 128) is None  # ×100 staged tier
    assert _starved_scan_pin_width(1, 4, 8) is None   # 4-core session never pins

    # r13: the remaining raw-text pins joined the conditional policy
    # (heavy_hitters/tfidf/inverted_index/text_stats) — same 4-core
    # no-pin assertion for all of them.
    for name in (
        "duplicate_span_report",
        "benchmark_decontaminate",
        "heavy_hitters",
        "tfidf_top_terms",
        "inverted_index",
        "text_stats",
    ):
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" not in plan, name
