"""Curation operators (decontamination, repetition filters, PII
redaction, mixture sampling, shard manifest): exact crafted-corpus
properties + oracle parity on driver testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark import registry
from mapreduce_implementation_grpc_spark.operators.curation import (
    decontaminate,
    mixture_sample,
    pii_redact,
    repetition_stats,
    shard_manifest,
)


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def contam_docs(spark):
    # eval doc 100 is "alpha beta gamma delta epsilon zeta eta theta"
    # train doc 1 contains the same 8 tokens verbatim (contaminated),
    # doc 2 shares only a 5-token prefix (below the 6-gram threshold),
    # doc 3 is disjoint.
    ev = spark.createDataFrame(
        [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta eta theta")]
    )
    tr = spark.createDataFrame(
        [
            Row(doc_id=1, text="intro alpha beta gamma delta epsilon zeta eta theta outro"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon STOP and more words here"),
            Row(doc_id=3, text="completely different tokens with no overlap at all"),
        ]
    )
    return tr, ev


def test_decontaminate_flags_exact_ngram_overlap(contam_docs):
    tr, ev = contam_docs
    got = {r.doc_id: r.n_shared_ngrams for r in decontaminate(tr, ev).collect()}
    # doc 1 contains all three 6-grams of the 8-token eval doc
    assert got == {1: 3}


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rep_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam eggs"),
            Row(doc_id=2, text="a b a b a b"),
            Row(doc_id=3, text="all distinct tokens here now"),
            Row(doc_id=4, text="..."),  # normalizes to zero tokens
        ]
    )


def test_repetition_stats_exact(rep_docs):
    got = {r.doc_id: r for r in repetition_stats(rep_docs).collect()}
    r1 = got[1]  # 5 tokens, 'spam'x4, bigram 'spam spam'x3, run of 4
    assert (r1.n_tokens, r1.max_run_len) == (5, 4)
    assert r1.top_token_frac == pytest.approx(4 / 5)
    assert r1.top_bigram_frac == pytest.approx(3 / 4)
    r2 = got[2]  # alternating: top token 3/6, 'a b'x3 of 5 bigrams, runs of 1
    assert (r2.n_tokens, r2.max_run_len) == (6, 1)
    assert r2.top_token_frac == pytest.approx(3 / 6)
    assert r2.top_bigram_frac == pytest.approx(3 / 5)
    r3 = got[3]
    assert r3.top_token_frac == pytest.approx(1 / 5)
    r4 = got[4]  # degenerate doc still yields a well-defined row
    assert (r4.n_tokens, r4.top_token_frac, r4.max_run_len) == (0, 0.0, 0)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_pii_redact_planted_fixtures(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail bob.smith+x@corp.example.org or jo@a.io now"),
            Row(doc_id=2, text="server 10.0.255.3 then call 415-555-0199"),
            Row(doc_id=3, text="ssn 123-45-6789 and phone 415.555.0199"),
            Row(doc_id=4, text="clean text with no identifiers"),
        ]
    )
    got = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert (got[1].n_email, got[1].redacted) == (
        2,
        "mail <EMAIL> or <EMAIL> now",
    )
    assert (got[2].n_ip, got[2].n_phone) == (1, 1)
    assert got[2].redacted == "server <IP> then call <PHONE>"
    # SSN shape (3-2-4) is not a phone (3-3-4); dotted phone is caught
    assert (got[3].n_ssn, got[3].n_phone) == (1, 1)
    assert got[3].redacted == "ssn <SSN> and phone <PHONE>"
    r4 = got[4]
    assert (r4.n_email, r4.n_ip, r4.n_ssn, r4.n_phone) == (0, 0, 0, 0)
    assert r4.redacted == "clean text with no identifiers"


def test_pii_redact_is_identity_on_clean_corpus(spark, sf_smoke):
    out = registry.QUERIES["pii_redact"](spark, sf_smoke)
    agg = out.agg(
        F.sum("n_email") + F.sum("n_ip") + F.sum("n_ssn") + F.sum("n_phone")
    ).collect()[0][0]
    assert agg == 0


# ---------------------------------------------------------------------------
# mixture sampling
# ---------------------------------------------------------------------------

def test_mixture_sample_balances_groups(spark, sf_check):
    docs = spark.read.parquet(f"{sf_check}/documents.parquet")
    kept = mixture_sample(docs)
    by_lang = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    orig = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    min_n = min(orig.values())
    # every group is downsampled toward min_n: binomial(n_g, min_n/n_g)
    # has mean min_n and sd < sqrt(min_n); allow 5 sd.
    import math

    tol = 5 * math.sqrt(min_n)
    for lang, n in by_lang.items():
        assert abs(n - min_n) <= tol, (lang, n, min_n)
    # the smallest group keeps (nearly) everything: frac == 1 keeps all
    # rows with u < 1.0, i.e. every row
    smallest = min(orig, key=lambda k: orig[k])
    assert by_lang[smallest] == orig[smallest]


def test_mixture_sample_deterministic_under_repartition(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    a = {r.doc_id for r in mixture_sample(docs).collect()}
    b = {r.doc_id for r in mixture_sample(docs.repartition(13)).collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# shard export
# ---------------------------------------------------------------------------

def test_shard_manifest_partitions_id_space(spark, sf_check):
    docs = spark.read.parquet(f"{sf_check}/documents.parquet")
    rows = sorted(shard_manifest(docs).collect(), key=lambda r: r.shard_id)
    assert [r.shard_id for r in rows] == list(range(8))
    assert sum(r.n_docs for r in rows) == docs.count()
    # contiguous, non-overlapping id ranges
    for a, b in zip(rows, rows[1:]):
        assert a.max_doc_id < b.min_doc_id


# ---------------------------------------------------------------------------
# oracle parity (same gate the driver runs)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "name",
    ["decontaminate", "repetition_stats", "pii_redact", "mixture_sample", "shard_manifest"],
)
def test_oracle_parity(spark, sf_check, name):
    from tests.oracle_utils import assert_matches_oracle

    assert_matches_oracle(
        registry.QUERIES[name](spark, sf_check), registry.ORACLES[name], sf_check
    )


def test_duplicate_spans_planted_repeat(spark):
    """A verbatim 10-token passage shared by two docs becomes one
    maximal span in each; unique text produces no span; an
    overlapping repeat merges into a single island."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.operators.curation import (
        duplicate_spans,
    )

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"one two three {passage} four five"),
            Row(doc_id=2, text=f"{passage} totally different tail words here"),
            Row(doc_id=3, text="completely unrelated text with no repeats at all ok"),
        ]
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_tokens)
        for r in duplicate_spans(docs).collect()
    }
    # doc 1: passage occupies tokens 3..13 -> one merged span of 10
    assert spans[1] == (3, 13, 10)
    # doc 2: passage at tokens 0..10
    assert spans[2] == (0, 10, 10)
    assert 3 not in spans


def test_duplicate_spans_within_doc_repeat(spark):
    """The same 8-gram occurring twice INSIDE one doc also counts
    (min_count is over total occurrences, not distinct docs)."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.operators.curation import (
        duplicate_spans,
    )

    eight = "a1 a2 a3 a4 a5 a6 a7 a8"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=f"{eight} filler1 filler2 {eight} end1 end2")]
    )
    spans = sorted(
        (r.span_start, r.span_end)
        for r in duplicate_spans(docs).collect()
    )
    assert spans == [(0, 8), (10, 18)]


def test_temperature_sample_rebalances_toward_small_groups(spark):
    """With alpha=0.5, a dominant group's kept share must shrink and
    a rare group must keep (nearly) everything; membership is a pure
    function of content (reproducible under repartitioning)."""
    from pyspark.sql import Row

    from mapreduce_implementation_grpc_spark.operators.curation import (
        temperature_sample,
    )

    rows = [
        Row(doc_id=i, lang="big", source="s", text=f"doc number {i} alpha beta gamma")
        for i in range(900)
    ] + [
        Row(doc_id=1000 + i, lang="small", source="s", text=f"rare doc {i} delta")
        for i in range(100)
    ]
    docs = spark.createDataFrame(rows)
    kept = temperature_sample(docs).groupBy("lang").count().collect()
    got = {r.lang: r["count"] for r in kept}
    # sqrt weighting: p_big = 3/4, p_small = 1/4 -> big rate ~0.83,
    # small rate capped at 1.0
    assert got["small"] >= 95  # rate 1.0 (hash noise-free: exactly all)
    assert 0.7 * 900 <= got["big"] <= 0.95 * 900
    # determinism under repartitioning
    again = {
        r.lang: r["count"]
        for r in temperature_sample(docs.repartition(13)).groupBy("lang").count().collect()
    }
    assert again == got


def test_weighted_doc_sample_matches_python_mirror(spark, sf_smoke):
    """Differential: the Spark A-ES sample equals a pure-Python
    Efraimidis-Spirakis implementation using the same md5-derived u
    and the same quality weights (taken from the green quality_score
    query) -- pins the ranking formula, the tie-break, and the
    hash-to-(0,1) mapping."""
    import hashlib
    import math
    from collections import defaultdict

    from mapreduce_implementation_grpc_spark.registry import QUERIES

    got = [
        (r.doc_id, r.lang, r.quality, r.rank)
        for r in QUERIES["weighted_doc_sample"](spark, sf_smoke).collect()
    ]

    quality = {
        r.doc_id: r.quality
        for r in QUERIES["quality_score"](spark, sf_smoke).collect()
    }
    langs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{sf_smoke}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    per_lang = defaultdict(list)
    for doc_id, q in quality.items():
        if q <= 0:
            continue
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        u = (h + 1) / 4294967297.0
        key = round(math.log(u), 9) / q
        per_lang[langs[doc_id]].append((key, doc_id, q))
    want = []
    for lang, rows in per_lang.items():
        rows.sort(key=lambda x: (-x[0], x[1]))
        for rank, (key, doc_id, q) in enumerate(rows[:20], start=1):
            want.append((doc_id, lang, q, rank))
    assert sorted(got) == sorted(want) and len(got) > 0


def test_bloom_decontaminate_has_no_false_negatives(spark, sf_check):
    """The Bloom guarantee: every exactly-contaminated doc must be
    flagged by the probe -- the (bloom=false, exact=true) cell is
    structurally impossible. Also sanity: some true positives exist
    and the filter actually rules most clean docs out (it is not
    saturated)."""
    from mapreduce_implementation_grpc_spark.registry import QUERIES

    rows = {(r.bloom_hit, r.exact_hit): r.n_docs
            for r in QUERIES["bloom_decontaminate"](spark, sf_check).collect()}
    assert (False, True) not in rows          # no false negatives, ever
    assert rows.get((True, True), 0) > 0      # catches the real leaks
    assert rows.get((False, False), 0) > 0    # and rules clean docs out
