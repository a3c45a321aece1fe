"""Unit tests for operators/quality.py (Gopher/C4 quality signals).

Hand-computed expectations on crafted documents covering every signal
and the degenerate shapes (empty text, single token, all-duplicate
lines).
"""

from __future__ import annotations

from hogzilla_spark.operators.quality import doc_quality_signals_kernel


def _rows(spark, docs):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = doc_quality_signals_kernel(df).collect()
    return {r["doc_id"]: r.asDict() for r in out}


def test_degenerate_docs(spark):
    r = _rows(spark, [(0, ""), (1, "word"), (2, "   \n  \n")])
    for d in (0, 2):
        assert r[d]["n_tok"] == 0
        assert r[d]["n_lines"] == 0
        assert r[d]["top_bigram"] is None
        assert r[d]["dup_line_frac"] == 0.0
        assert r[d]["top2gram_char_frac"] == 0.0
        assert not r[d]["gopher_pass"]
    assert r[1]["n_tok"] == 1
    assert r[1]["top_bigram"] is None
    assert r[1]["alpha_word_frac"] == 1.0


def test_dup_line_stats(spark):
    # 4 lines, "aa" twice (2 chars each), "bbb" and "c" once.
    text = "aa\nbbb\naa\nc"
    r = _rows(spark, [(0, text)])[0]
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == round(1 - 3 / 4, 6)
    # dup chars = 2+2 = 4; total line chars = 2+3+2+1 = 8
    assert r["dup_line_char_frac"] == 0.5


def test_top_bigram_and_tiebreak(spark):
    # bigrams: "a b","b a","a b","b a" -> both count 2; 'a b' < 'b a'
    r = _rows(spark, [(0, "a b a b a")])[0]
    assert r["top_bigram"] == "a b"
    # count 2 * len 3 / (5 chars + 4 spaces) = 6/9
    assert r["top2gram_char_frac"] == round(6 / 9, 6)


def test_bullet_ellipsis_symbol(spark):
    text = "- item one\n- item two\nplain line...\n# tag … end"
    r = _rows(spark, [(0, text)])[0]
    assert r["bullet_frac"] == 0.5
    assert r["ellipsis_frac"] == 0.25
    # symbols: one '#', one '...', one '…' = 3 over 12 tokens
    # (the '-' bullets and '#'/'…' marks are whitespace tokens too)
    assert r["n_tok"] == 12
    assert r["symbol_word_ratio"] == 0.25


def test_stopwords_and_alpha(spark):
    r = _rows(spark, [(0, "The cat sat of 123 45 !!")])[0]
    # distinct stop hits: the, of
    assert r["stop_distinct"] == 2
    # alpha words: The cat sat of = 4 of 7
    assert r["alpha_word_frac"] == round(4 / 7, 6)


def test_gopher_pass_on_clean_doc(spark):
    words = []
    for i in range(60):
        words.append(["the", "quick", "brown", "fox", "jumps", "with",
                      "energy", "over", "lazy", "dogs"][i % 10] + str(i))
    # append plain stopwords so stop_distinct >= 2 and atl stays in range
    text = " ".join(words) + " the cat and dog have fun to be sure"
    r = _rows(spark, [(0, text)])[0]
    assert r["gopher_pass"], r


def test_gopher_fail_reasons(spark):
    too_short = "only three words"
    all_dups = "\n".join(["same line"] * 10) + " " + " ".join(
        f"w{i}" for i in range(60)
    )
    r = _rows(spark, [(0, too_short), (1, all_dups)])
    assert not r[0]["gopher_pass"]
    assert not r[1]["gopher_pass"]
    assert r[1]["dup_line_char_frac"] > 0.2


def test_no_shuffle_plan(spark):
    """The whole operator must stay a narrow map: no exchange in the plan."""
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    plan = doc_quality_signals_kernel(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# --- cross-document line dedup (operators/dedup.dedup_lines) ---------------

def test_dedup_lines_keep_first_semantics(spark):
    from hogzilla_spark.operators.dedup import dedup_lines

    docs = [
        (1, "alpha\nshared line\nbeta"),
        (2, "shared line\ngamma\n\ndelta"),
        (3, "shared line\nshared line\nunique"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in dedup_lines(df).collect()}
    # doc 1 holds the first occurrence -> untouched
    assert out[1]["text_clean"] == "alpha\nshared line\nbeta"
    assert out[1]["n_removed"] == 0
    # doc 2 loses its copy, keeps the blank line verbatim
    assert out[2]["text_clean"] == "gamma\n\ndelta"
    assert out[2]["n_removed"] == 1
    # doc 3 loses both copies
    assert out[3]["text_clean"] == "unique"
    assert out[3]["n_removed"] == 2


def test_dedup_lines_trim_matching_preserves_original(spark):
    from hogzilla_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(1, "  padded  \nkeep"), (2, "padded\nother")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r.asDict() for r in dedup_lines(df).collect()}
    # trimmed forms match; first occurrence keeps its ORIGINAL spacing
    assert out[1]["text_clean"] == "  padded  \nkeep"
    assert out[2]["text_clean"] == "other"
    assert out[2]["n_removed"] == 1


def test_dedup_lines_no_dups_identity(spark):
    from hogzilla_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame([(1, "a\nb"), (2, "c\nd"), (3, "")], ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in dedup_lines(df).collect()}
    assert out[1]["text_clean"] == "a\nb"
    assert out[3]["text_clean"] == ""
    assert all(r["n_removed"] == 0 for r in out.values())

def test_compression_ratio_tails(spark):
    """Repetitive text compresses hard (low ratio); random-ish text
    doesn't; empty is 0; values reproducible."""
    import random

    rng = random.Random(7)
    noisy = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(60)
    )
    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 200),
            (2, noisy),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    from hogzilla_spark.operators.quality import compression_ratio

    got = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert got[1].ratio < 0.05          # pure repetition
    assert got[2].ratio > 0.5           # high-entropy
    assert got[3].ratio == 0.0 and got[3].n_bytes == 0
    again = {r.doc_id: r.ratio for r in compression_ratio(docs).collect()}
    assert again == {k: v.ratio for k, v in got.items()}

def test_paragraph_and_ngram_repetition_signals(spark):
    """Hand-computed dup-paragraph and top-3/4-gram coverage (the
    Gopher repetition battery extension)."""
    para = "alpha beta gamma"
    text = f"{para}\n\n{para}\n\nunique delta epsilon"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    from hogzilla_spark.operators.quality import doc_quality_signals_kernel

    r = doc_quality_signals_kernel(docs).collect()[0]
    # 3 paragraphs, one duplicated pair
    assert r.dup_para_frac == round(1 - 2 / 3, 6)
    dup_chars = 2 * len(para)
    total_chars = 2 * len(para) + len("unique delta epsilon")
    assert r.dup_para_char_frac == round(dup_chars / total_chars, 6)
    # tokens: alpha beta gamma alpha beta gamma unique delta epsilon
    # top trigram "alpha beta gamma" occurs 2×; norm_chars = Σlen + n-1
    toks = text.split()
    norm = sum(len(t) for t in toks) + len(toks) - 1
    assert r.top3gram_char_frac == round(2 * len("alpha beta gamma") / norm, 6)
    # top 4-gram occurs once (any); coverage = len(best)/norm — just
    # assert it is positive and below the trigram coverage
    assert 0 < r.top4gram_char_frac < r.top3gram_char_frac

def test_dup_ngram_char_fractions_hand_computed(spark):
    """Positional 5-gram coverage on a doc with one repeated 5-gram:
    10 of 11 tokens covered; a doc with no repeats scores 0; overlap
    counts each token once."""
    rep = "a1 b2 c3 d4 e5"          # 5 tokens, 10 chars
    text = f"{rep} {rep} xx"        # positions 0-4 and 5-9 duplicated
    docs = spark.createDataFrame(
        [(1, text), (2, "all tokens here are unique words entirely")],
        "doc_id long, text string",
    )
    from hogzilla_spark.operators.quality import dup_ngram_char_fractions

    got = {r.doc_id: r for r in dup_ngram_char_fractions(docs).collect()}
    # covered: 10 tokens × 2 chars = 20 of 22 total chars
    assert got[1].dup_5gram_char_frac == round(20 / 22, 6)
    assert got[1].dup_6gram_char_frac == 0.0   # no duplicated 6-gram
    assert not got[1].repetition_pass
    assert got[2].dup_5gram_char_frac == 0.0
    assert got[2].repetition_pass


def test_round6u_engine_parity_at_decimal_half(spark):
    """Regression for the sf100 doc_quality digest mismatch (r11): at a
    ratio whose exact decimal expansion ends in ...5 at digit 7 (e.g.
    19/640 = 0.0296875, stored as a double just BELOW the half while
    x*1e6 rounds to exactly 29687.5), Spark's BigDecimal F.round gave
    0.029687 but DuckDB's float ROUND gave 0.029688 — 1 026 of 5 M sf100
    docs diverged.  round6u (floor(x*1e6+0.5)/1e6) is the same IEEE op
    sequence in both engines; this pins the exact boundary value and
    the DuckDB twin expression byte-agreement on a sweep of dangerous
    small-integer ratios."""
    import duckdb

    from pyspark.sql import functions as F

    from hogzilla_spark.functions.scalar import round6u

    # the evidenced boundary value plus a sweep of small-int ratios
    # whose decimal expansions terminate at or near digit 7
    cases = [(19, 640)] + [
        (a, b)
        for b in (640, 1280, 320, 64000, 16000, 2048, 12800)
        for a in (1, 3, 7, 19, 21, 333)
        if a < b
    ]
    df = spark.createDataFrame(cases, "a long, b long")
    got = {
        (r.a, r.b): r.v
        for r in df.select(
            "a", "b", round6u(F.col("a").cast("double") / F.col("b")).alias("v")
        ).collect()
    }
    con = duckdb.connect()
    for (a, b), v in got.items():
        dk = con.execute(
            "select floor((?::double / ?::double)*1e6 + 0.5)/1e6", [a, b]
        ).fetchone()[0]
        assert dk == v, (a, b, dk, v)
    # the evidenced value lands on the DuckDB side of the old divergence
    assert got[(19, 640)] == 0.029688
