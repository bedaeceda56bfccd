"""Dedup family and text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraper_spark.functions.text import (
    bpe_ish_token_count,
    langid,
    quality_score,
    token_count,
)
from webscraper_spark.operators.dedup import (
    exact_dedup,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Corpus + planted exact dups and near-dups (one word changed)."""
    dup = docs.limit(20).select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    near = docs.limit(20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.expr("substring(text, 5)")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(dup).unionByName(near)


def test_exact_dedup(spark, docs_with_dups):
    groups = exact_duplicates(docs_with_dups)
    assert groups.count() == 20
    assert groups.filter(F.col("keep_id") >= 100000).count() == 0  # min id survives
    deduped = exact_dedup(docs_with_dups)
    assert deduped.count() == docs_with_dups.count() - 20


def test_minhash_lsh_finds_planted_near_dups(spark, docs_with_dups):
    pairs = minhash_lsh_pairs(docs_with_dups, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # exact dups (jaccard 1.0) must all be found
    for i in range(20):
        assert (i, i + 100000) in got, f"exact dup {i} missed"
    # near dups: most should be found (high jaccard after one-word change)
    near_hits = sum((i, i + 200000) in got for i in range(20))
    assert near_hits >= 15, near_hits


def test_lsh_pairs_subset_of_exact_jaccard(spark, docs_with_dups):
    """Every LSH-verified pair must appear in the exact n-gram Jaccard output
    with the same jaccard value (LSH may miss; it must never invent)."""
    small = docs_with_dups.filter((F.col("doc_id") < 60) | (F.col("doc_id") >= 100000))
    lsh = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_pairs(small, threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(small, threshold=0.5).collect()}
    for k, v in lsh.items():
        assert k in exact and abs(exact[k] - v) < 1e-9


def test_ngram_jaccard_matches_python(spark, docs):
    sample = docs.limit(30).select("doc_id", "text").collect()
    texts = {r.doc_id: r.text for r in sample}

    def sh(t):
        toks = t.split()
        return set(" ".join(toks[i : i + 3]) for i in range(max(1, len(toks) - 2)))

    want = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                a, b = sh(texts[i]), sh(texts[j])
                jac = len(a & b) / len(a | b)
                if jac >= 0.1:
                    want[(i, j)] = jac
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs.limit(30), threshold=0.1).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_simhash_finds_exact_dups(spark, docs_with_dups):
    pairs = simhash_pairs(docs_with_dups, max_hamming=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(20):
        assert (i, i + 100000) in got  # identical text -> hamming 0


def test_token_counts_match_python(spark, docs):
    rows = docs.select("doc_id", "text", token_count(F.col("text")).alias("n"),
                       bpe_ish_token_count(F.col("text")).alias("nb")).collect()
    for r in rows:
        assert r.n == len(r.text.split()), r.doc_id
        assert r.nb >= r.n


def test_quality_and_langid_deterministic(spark, docs):
    a = docs.select("doc_id", quality_score(F.col("text")).alias("q"), langid(F.col("text")).alias("l"))
    b = docs.select("doc_id", quality_score(F.col("text")).alias("q"), langid(F.col("text")).alias("l"))
    assert a.exceptAll(b).count() == 0
    qs = [r.q for r in a.collect()]
    assert all(0.0 <= q <= 1.0 for q in qs)
    # corpus text contains 'the'/'a' -> mostly en
    langs = a.groupBy("l").count().collect()
    top = max(langs, key=lambda r: r["count"])
    assert top.l == "en"


def test_pii_scrub_and_counts(spark):
    """pii_count / pii_scrub vs a hand-checked fixture: counts per pattern
    on the raw text, placeholders in the scrubbed text, non-PII text
    untouched (functions/text.py PII_PATTERNS)."""
    from webscraper_spark.functions.text import pii_count, pii_scrub

    rows = [
        (0, "write to alice.smith+x@mail.example.com or bob@ex.org today"),
        (1, "server at 192.168.0.1 and 10.0.255.254 responded"),
        (2, "call +491511234567 now"),
        (3, "no pii here, just 1.2 version numbers and a@b (not an email)"),
        (4, "mixed: c@d.io from 8.8.8.8 tel +12345678"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.col("text")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_count(t, "email").alias("ne"),
            pii_count(t, "ipv4").alias("ni"),
            pii_count(t, "phone").alias("np"),
            pii_scrub(t).alias("scrubbed"),
        ).collect()
    }
    assert (got[0].ne, got[0].ni, got[0].np) == (2, 0, 0)
    assert got[0].scrubbed == "write to [EMAIL] or [EMAIL] today"
    assert (got[1].ne, got[1].ni, got[1].np) == (0, 2, 0)
    assert got[1].scrubbed == "server at [IP] and [IP] responded"
    assert (got[2].ne, got[2].ni, got[2].np) == (0, 0, 1)
    assert got[2].scrubbed == "call [PHONE] now"
    assert (got[3].ne, got[3].ni, got[3].np) == (0, 0, 0)
    assert got[3].scrubbed == rows[3][1]  # untouched
    assert (got[4].ne, got[4].ni, got[4].np) == (1, 1, 1)
    assert got[4].scrubbed == "mixed: [EMAIL] from [IP] tel [PHONE]"


def test_curation_decision_first_failing_rule(spark, docs):
    """curation_decision returns the FIRST failing rule and agrees with the
    individually-oracled component metrics on the real sf0.01 corpus."""
    from webscraper_spark.functions.text import (
        curation_decision,
        dup_token_frac,
        quality_score,
        top_token_frac,
    )

    t = F.col("text")
    rows = docs.select(
        "doc_id",
        curation_decision(t).alias("verdict"),
        quality_score(t, "en").alias("q"),
        F.round(top_token_frac(t), 6).alias("tt"),
        F.round(dup_token_frac(t), 6).alias("dt"),
    ).collect()
    assert len(rows) > 0
    n_keep = 0
    for r in rows:
        if r.q < 0.5:
            want = "low_quality"
        elif r.tt > 0.35:
            want = "repetitive_top_token"
        elif r.dt > 0.75:
            want = "repetitive_dup_tokens"
        else:
            want = "keep"
            n_keep += 1
        assert r.verdict == want, (r.doc_id, r.verdict, want, r.q, r.tt, r.dt)
    # the corpus must exercise the keep path and at least one drop path
    assert 0 < n_keep < len(rows)


def test_repetition_stats_empty_string_first_element(spark):
    """repetition_stats/_max_run_frac carry an explicit `seen` flag in
    the fold accumulator, so an array whose FIRST (sorted) element is ''
    counts it as a real run start instead of merging into the seed
    (code-review catch on the old '' sentinel)."""
    from webscraper_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [
            (0, ["", "a", "a"]),   # '' sorts first: dist must be 2, best 2
            (1, ["", "", "b"]),    # run of two '' : best 2, dist 2
            (2, ["a", "b", "c"]),  # no '' at all: unchanged behavior
        ],
        "i long, arr array<string>",
    )
    got = {r["i"]: (r["s"]["best"], r["s"]["dist"])
           for r in df.select("i", repetition_stats(F.col("arr")).alias("s")).collect()}
    assert got[0] == (2, 2)
    assert got[1] == (2, 2)
    assert got[2] == (1, 3)


def test_ngram_jaccard_max_df_drops_boilerplate(spark):
    """max_df posting-list cap: a boilerplate prefix shared by every doc
    stops generating candidate pairs, planted near-dups survive, and
    jaccard is recomputed over the filtered (discriminative) feature
    space."""
    boiler = " ".join(f"boiler{k}" for k in range(40)) + " "
    rows = []
    for i in range(30):
        body = " ".join(f"w{i}t{j}" for j in range(20))
        rows.append((i, boiler + body))
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = ngram_jaccard_pairs(df, threshold=0.3)
    # every doc shares the boilerplate shingles: lots of low-jaccard pairs
    assert exact.count() > 1

    capped = ngram_jaccard_pairs(df, threshold=0.3, max_df=5)
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    # only the planted dup survives, at jaccard 1.0 over discriminative shingles
    assert set(got) == {(0, 100)}, got
    assert got[(0, 100)] == pytest.approx(1.0)


def test_contamination_overlap_flags_eval_members(spark):
    """Docs that ARE in the eval set flag at frac 1.0; a doc sharing half
    its shingle space flags partially; disjoint docs don't appear."""
    from webscraper_spark.operators.dedup import contamination_overlap

    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # eval member -> frac 1.0
            (2, "a b c d x y"),          # shares the 'a b c d' prefix grams
            (3, "p q r s t u"),          # disjoint -> absent
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "a b c d e f")], "doc_id long, text string")
    got = {r.doc_id: r for r in contamination_overlap(train, ev, n=3).collect()}
    assert set(got) == {1, 2}
    assert got[1].hits == got[1].n_sh and got[1].contam_frac == 1.0
    # doc 2 shingles(n=3): {abc, bcd, cdx, dxy}; eval grams {abc,bcd,cde,def}
    assert got[2].n_sh == 4 and got[2].hits == 2
    assert got[2].contam_frac == pytest.approx(0.5)


def test_span_dedup_removes_repeated_blocks_preserves_order(spark):
    """A 10-token block shared by two docs is removed from BOTH (drop-all
    policy); unique blocks survive in original order; a doc that is all
    boilerplate collapses to empty text."""
    from webscraper_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(10))
    u = lambda d: " ".join(f"u{d}_{i}" for i in range(10))
    rows = [
        (1, f"{u(1)} {boiler} {u(1).replace('_', 'x')}"),  # boiler in middle
        (2, f"{boiler} {u(2)}"),                            # boiler at head
        (3, boiler),                                        # all boilerplate
        (4, u(4) + " tail tok"),                            # short last block
        (5, ""),                                            # empty doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup(df, block=10, min_df=2).collect()}
    assert got[1].clean_text == f"{u(1)} {u(1).replace('_', 'x')}"
    assert got[1].blocks_removed == 1 and got[1].blocks_kept == 2
    assert got[2].clean_text == u(2) and got[2].blocks_removed == 1
    assert got[3].clean_text == "" and got[3].blocks_kept == 0
    assert got[4].clean_text == u(4) + " tail tok" and got[4].blocks_removed == 0
    assert got[5].clean_text == "" and got[5].blocks_kept == 0 and got[5].blocks_removed == 0


def test_recrawl_priority_orders_by_change_rate_times_staleness(spark):
    """Hot-and-stale pages outrank cold or freshly-fetched ones within a
    host shard; 'now' is the corpus max ts, never the wall clock."""
    import datetime as dt

    from webscraper_spark.operators.freshness import recrawl_priority

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = []
    # page 10: changes every observed day, last seen day 5 (stale 5d at now=day 10)
    for d in range(6):
        rows.append((10, t0 + d * day, "purchase"))
    # page 20: never changes, same span
    for d in range(6):
        rows.append((20, t0 + d * day, "view"))
    # page 30: changes often but fetched at 'now' (staleness 0)
    for d in range(11):
        rows.append((30, t0 + d * day, "error"))
    df = spark.createDataFrame(rows, "page_id long, ts timestamp, event_type string")
    got = {r.page_id: r for r in recrawl_priority(df).collect()}
    assert got[10].host_rank == 1 and got[10].priority > 0
    assert got[20].priority == 0.0 and got[30].staleness_days == 0.0
    assert got[10].n_changes == 6 and got[20].n_changes == 0
    # all three pages share host 0 (ids % 10 == 0): ranks are 1,2,3
    assert sorted(r.host_rank for r in got.values()) == [1, 2, 3]


# --- Unicode script composition (functions/text.py, SURVEY 2.10 L44) ---

def test_script_profile_counts_and_dominant(spark):
    from webscraper_spark.functions.text import script_profile

    rows = [
        (0, "hello world"),                      # pure latin
        (1, "Привет мир"),                       # pure cyrillic
        (2, "北京大学"),                          # pure han
        (3, "hello мир"),                        # latin 5 vs cyrillic 3 -> mixed
        (4, "12345 ... !!!"),                    # no script chars at all
        (5, "abc абв"),                          # 3 vs 3 tie -> latin (fixed order)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = script_profile(F.col("text"))
    out = df.select("doc_id", *[c.alias(n) for n, c in p.items()])
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert got[0]["dominant_script"] == "latin" and not got[0]["is_mixed"]
    assert got[1]["dominant_script"] == "cyrillic" and got[1]["n_cyrillic"] == 9
    assert got[2]["dominant_script"] == "han" and got[2]["n_han"] == 4
    assert got[3]["dominant_script"] == "latin" and got[3]["is_mixed"]
    assert got[4]["dominant_script"] == "none" and not got[4]["is_mixed"]
    assert got[5]["dominant_script"] == "latin"  # deterministic tie-break


def test_script_profile_mixed_threshold_boundary(spark):
    from webscraper_spark.functions.text import script_profile

    # 9 latin + 1 cyrillic = exactly 90% -> NOT mixed (strict <)
    df = spark.createDataFrame([("abcdefghiя",), ("abcdefghяя",)], "text string")
    p = script_profile(F.col("text"))
    got = [r["is_mixed"] for r in df.select(p["is_mixed"].alias("is_mixed")).collect()]
    assert got == [False, True]  # 90% exact stays pure; 80% flags mixed


# --- document chunking (operators/chunk.py, SURVEY 2.10 L48) ---

def test_chunk_documents_windows_and_overlap(spark):
    from webscraper_spark.operators.chunk import chunk_documents

    text_120 = " ".join(f"t{i}" for i in range(120))
    rows = [(0, text_120), (1, "a b c"), (2, ""), (3, " ".join(f"x{i}" for i in range(64)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, max_tokens=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 120 tokens -> ceil((120-64)/48)+1 = 3 chunks at 0/48/96
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [(r["start_tok"], r["n_chunk_toks"]) for r in c0] == [(0, 64), (48, 64), (96, 24)]
    assert c0[1]["chunk_text"].split()[0] == "t48"     # overlap: 48..111
    assert c0[0]["chunk_text"].split()[-1] == "t63"
    # every token of doc 0 covered
    covered = set()
    for r in c0:
        covered.update(r["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(120)}
    assert [(r["start_tok"], r["n_chunk_toks"]) for r in by_doc[1]] == [(0, 3)]
    assert 2 not in by_doc                              # empty doc -> no chunks
    assert [(r["start_tok"], r["n_chunk_toks"]) for r in by_doc[3]] == [(0, 64)]


def test_chunk_documents_partitioning_invariant(spark):
    from webscraper_spark.operators.chunk import chunk_documents

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(i % 90))) for i in range(40)]
    a = spark.createDataFrame(rows, "doc_id long, text string").repartition(1)
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(11)
    ka = {(r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in chunk_documents(a, max_tokens=32, stride=16).collect()}
    kb = {(r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in chunk_documents(b, max_tokens=32, stride=16).collect()}
    assert ka == kb


def test_ngram_containment_direction(spark):
    """Containment recovers the DIRECTION Jaccard loses: an article
    quoted whole inside a 3x-longer wrapper has low Jaccard but
    containment ~1.0 of the article in the wrapper."""
    from webscraper_spark.operators.dedup import ngram_containment_pairs

    art = " ".join(f"tok{j}" for j in range(30))
    wrapper = "nav home login " + art + " " + " ".join(f"footer{j}" for j in range(60))
    other = " ".join(f"zz{j}" for j in range(30))
    df = spark.createDataFrame(
        [(1, art), (2, wrapper), (3, other), (4, art)],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): (r.relation, r.c_a_in_b, r.c_b_in_a)
           for r in ngram_containment_pairs(df, threshold=0.9).collect()}
    rel, ca, cb = got[(1, 2)]
    assert rel == "a_in_b" and ca == 1.0 and cb < 0.5   # direction recovered
    assert got[(1, 4)][0] == "dup"                      # identical both ways
    assert (2, 4) in got and got[(2, 4)][0] == "b_in_a" # same pair, flipped ids
    assert not any(3 in k for k in got)                 # unrelated doc clean
