"""Edge cases for the round-6 retrieval/profile operators: BM25 scoring,
hybrid rerank, Gini concentration, quality funnel. The happy paths are
oracle-checked (scripts/check_correctness.py); these pin the degenerate
inputs an oracle fixture can't reach."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT"
    )


def test_bm25_no_hits_returns_empty(spark, tmp_path, monkeypatch):
    """A corpus containing none of the query terms produces an EMPTY
    result — not a divide-by-zero or a row of nulls."""
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    df = _docs(spark, [(1, "alpha beta", "en", "s", 10),
                       (2, "gamma delta", "en", "s", 11)])
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    out = terms_mod.bm25_topk(spark, "unused")
    assert out.count() == 0


def test_bm25_single_hit_doc_scores_and_ranks(spark, monkeypatch):
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    df = _docs(spark, [(1, "join the club", "en", "s", 13),
                       (2, "nothing here", "en", "s", 12)])
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    rows = terms_mod.bm25_topk(spark, "unused").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.n_terms_hit, r.rnk) == (1, 1, 1)
    assert r.score > 0


def test_gini_single_source_is_zero(spark, monkeypatch):
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    df = _docs(spark, [(1, "a b c", "en", "only", 5),
                       (2, "d e", "en", "only", 3)])
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    r = terms_mod.token_gini_by_source(spark, "unused").collect()[0]
    assert (r.n_sources, r.total_tokens, r.gini) == (1, 5, 0.0)


def test_gini_total_concentration_approaches_one(spark, monkeypatch):
    """One source holding ~all token mass drives gini toward (n-1)/n."""
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    rows = [(1, " ".join(["x"] * 1000), "en", "big", 1000)]
    rows += [(10 + i, "y", "en", f"tiny{i}", 1) for i in range(9)]
    df = _docs(spark, rows)
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    r = terms_mod.token_gini_by_source(spark, "unused").collect()[0]
    assert r.n_sources == 10
    assert r.gini > 0.85  # (n-1)/n = 0.9 minus the tiny sources' mass


def test_quality_funnel_survivors_monotone(spark, monkeypatch):
    from certified_dogs_and_cats_spark.queries import quality as qmod

    rows = [
        (1, " ".join(f"w{i}" for i in range(40)), "en", "s", 200),
        (2, "short", "en", "s", 5),                      # fails min_chars
        (3, " ".join(f"v{i}" for i in range(40)), "zh", "s", 200),  # lang
        (4, " ".join(["spam"] * 40), "en", "s", 200),    # dominance
    ]
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars INT"
    )
    monkeypatch.setattr(qmod, "t", lambda _s, _d, _n: df)
    out = {r.stage: r for r in qmod.quality_gate_funnel(spark, "unused").collect()}
    surv = [out[i].survivors for i in range(4)]
    assert surv == [4, 3, 2, 1]
    assert [out[i].dropped_total for i in range(4)] == [0, 1, 2, 3]
    assert surv == sorted(surv, reverse=True)


def test_bm25_textbook_matches_python_reference_within_tolerance(
    spark, monkeypatch
):
    """bm25_textbook_topk's ln-idf scores match a pure-Python Robertson/
    Lucene BM25 replay (libm math.log) to 1e-9 relative tolerance: the
    engine evaluates ln by the deterministic fixed-IEEE-sequence series
    (functions/detln.py, max 1.3e-12 relative deviation from libm), so
    textbook semantics hold to far tighter than the tolerance while the
    score stays bit-identical cross-engine (oracle-hash-pinned)."""
    import math

    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    rows = [
        (1, "join the hash window club join", "en", "s", 30),
        (2, "window window hash", "en", "s", 18),
        (3, "nothing relevant here at all", "en", "s", 28),
        (4, "join hash window join hash window", "en", "s", 33),
        (5, "one join only", "en", "s", 13),
    ]
    df = _docs(spark, rows)
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    got = {
        r.doc_id: (r.n_terms_hit, r.score, r.rnk)
        for r in terms_mod.bm25_textbook_topk(spark, "unused").collect()
    }

    # Pure-Python replay of Lucene-standard BM25.
    k1, b = terms_mod.BM25_K1, terms_mod.BM25_B
    toks = {d: text.split(" ") for d, text, *_ in rows}
    n_docs = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    want = {}
    for d, tk in toks.items():
        dl = len(tk)
        hits, score = 0, 0.0
        for tm in terms_mod.BM25_TERMS:
            tf = tk.count(tm)
            if tf > 0:
                hits += 1
            dfq = sum(1 for v in toks.values() if tm in v)
            idf = math.log(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
        if hits > 0:
            want[d] = (hits, round(score, 6))
    ranked = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))
    assert set(got) == set(want)
    for rnk, (d, (hits, score)) in enumerate(ranked, start=1):
        g_hits, g_score, g_rnk = got[d]
        assert g_hits == hits and g_rnk == rnk
        assert abs(g_score - score) <= 1e-9 * max(1.0, abs(score))


def test_bm25_textbook_single_term_ranking_matches_log_free(
    spark, monkeypatch
):
    """On a SINGLE-term query the ln idf is a monotone rescaling of the
    rational idf, so the textbook and log-free variants must produce the
    IDENTICAL ranking — the equivalence that breaks (by design) for
    multi-term sums, pinned here where it provably holds."""
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    rows = [
        (i, ("join " * (i % 4) + "filler " * (3 + i % 5)).strip(), "en",
         "s", 20)
        for i in range(1, 13)
    ]
    df = _docs(spark, rows)
    monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
    rational = terms_mod._bm25_scored(
        spark, "unused", k=10, idf_mode="rational", terms=("join",)
    )
    textbook = terms_mod._bm25_scored(
        spark, "unused", k=10, idf_mode="series_ln", terms=("join",)
    )
    r_rank = [(r.rnk, r.doc_id) for r in rational.collect()]
    t_rank = [(r.rnk, r.doc_id) for r in textbook.collect()]
    assert r_rank == t_rank and len(r_rank) > 0


def test_bm25_terms_with_backslash_and_quote_match_literally(
    spark, monkeypatch
):
    """Caller-supplied terms are interpolated into Spark SQL string
    literals: a trailing backslash or a backslash-quote must neither break
    parsing nor change which token a term matches. Scoring the special
    terms must equal scoring the same corpus with each special token
    renamed to a plain one, and near-miss decoys must not hit."""
    from certified_dogs_and_cats_spark.queries import terms as terms_mod

    special = ("x\\", "a\\'b", "it's")
    plain = dict(zip(special, ("xq", "aqb", "itqs")))
    texts = [
        "x\\ x\\ filler",
        "a\\'b it's filler filler",
        "it's",
        "x a'b a\\b its x\\\\ filler",  # decoys: no term occurs
    ]

    def scored(terms, rename):
        rows = [
            (i, " ".join(rename.get(w, w) for w in text.split(" ")), "en",
             "s", len(text))
            for i, text in enumerate(texts, start=1)
        ]
        df = _docs(spark, rows)
        monkeypatch.setattr(terms_mod, "t", lambda _s, _d, _n: df)
        out = terms_mod._bm25_scored(spark, "unused", k=10, terms=terms)
        return sorted(tuple(r) for r in out.collect())

    got = scored(special, {})
    assert {r[0]: r[1] for r in got} == {1: 1, 2: 2, 3: 1}
    assert got == scored(tuple(plain.values()), plain)


def test_series_ln_bit_identical_cross_engine(spark):
    """functions/detln.py's contract: the SAME (num, den) integer pair
    produces the BIT-IDENTICAL double in Spark and DuckDB (and stays
    within 5e-12 relative of libm ln) — the property that lets ln-based
    scores carry a real value-hash oracle row."""
    import math
    import struct

    import duckdb

    from certified_dogs_and_cats_spark.functions.detln import series_ln_sql

    pairs = [(2 * 60175 + 2, 2 * d + 1) for d in (1, 2, 3, 7, 40, 500,
                                                  6000, 60175)]
    pairs += [(3, 1), (2, 1), (10**12 + 7, 3), (5, 5), (17, 16)]
    sdf = spark.createDataFrame(pairs, "num long, den long")
    got_s = {
        (r.num, r.den): r.v
        for r in sdf.selectExpr(
            "num", "den", f"{series_ln_sql('num', 'den', 'spark')} AS v"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    got_d = {
        (n, d): v
        for n, d, v in con.execute(
            "SELECT num, den, "
            f"{series_ln_sql('num', 'den', 'duck')} FROM t"
        ).fetchall()
    }
    for p in pairs:
        assert struct.pack("<d", got_s[p]) == struct.pack("<d", got_d[p])
        true = math.log(p[0] / p[1])
        assert abs(got_s[p] - true) <= 5e-12 * max(1.0, abs(true))
