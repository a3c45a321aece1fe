"""r13 kernel-optimization guards (VERDICT r12 task 3).

doc_quality_signals_kernel (the one quality battery: the corpus
pipeline and the registry query both run it) must stay row-identical —
every round-6 float, the top-bigram tie-break, the pass flag — to the
retired expression battery's frozen output, on real corpus data AND on
adversarial boundary documents.  The DuckDB oracle gates it too, via the
registry query doc_quality.

dup_ngram_char_fractions keeps its r12 dict-loop implementation (two
vectorized rewrites measured SLOWER at sf10 — negative result recorded
in the operator docstring and OPTIMIZATION_r13.md); the reference-copy
tests below still pin the loop against an independent verbatim copy so
any future rewrite inherits the same row-identity gate."""

import numpy as np
import pandas as pd
import pytest

from hogzilla_spark.operators.quality import (
    DUP_NGRAM_MAX_FRAC,
    dup_ngram_char_fractions,
)

NS = (5, 6, 7, 8, 9, 10)

def _reference_rows(texts, ns=NS):
    """The r12 implementation, verbatim (dict-of-tuples per doc)."""
    cols = [f"dup_{n}gram_char_frac" for n in ns]
    rows = []
    for text in texts:
        toks = (text or "").split()
        lens = [len(t) for t in toks]
        total = sum(lens)
        out = {}
        ok = True
        for n, c in zip(ns, cols):
            if total == 0 or len(toks) < n:
                out[c] = 0.0
                continue
            seen = {}
            grams = [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            for g in grams:
                seen[g] = seen.get(g, 0) + 1
            covered = [False] * len(toks)
            for i, g in enumerate(grams):
                if seen[g] > 1:
                    for j in range(i, i + n):
                        covered[j] = True
            frac = round(
                sum(l for l, cov in zip(lens, covered) if cov) / total, 6
            )
            out[c] = frac
            if frac >= DUP_NGRAM_MAX_FRAC.get(n, 1.0):
                ok = False
        out["repetition_pass"] = ok
        rows.append(out)
    return rows

ADVERSARIAL = [
    "",                                     # empty
    "one",                                  # below every n
    "a b c d e",                            # exactly n=5, no dups
    "a b c d e a b c d e",                  # one duplicated 5-gram
    " ".join(["x"] * 40),                   # everything duplicated at every n
    " ".join(["w1 w2 w3 w4 w5 w6"] * 3),    # overlapping dup windows
    "tab\tsep\nand\x0bodd\fwhitespace " * 6,  # split() whitespace classes
    " ".join(f"t{i}" for i in range(30)) + " " + " ".join(f"t{i}" for i in range(30)),
    "α β γ δ ε α β γ δ ε",                  # non-ASCII tokens, len in chars
    ("aa bb " * 8) + "unique tail words here now",  # tie-prone small ratios
]

def _assert_match(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in dup_ngram_char_fractions(df).collect()
    }
    want = _reference_rows(texts)
    assert len(got) == len(texts)
    for i, exp in enumerate(want):
        g = got[i]
        for k, v in exp.items():
            assert g[k] == v, (i, k, g[k], v, texts[i][:60])

def test_dup_ngram_vectorized_matches_loop_adversarial(spark):
    _assert_match(spark, ADVERSARIAL)

def test_dup_ngram_vectorized_matches_loop_corpus(spark):
    texts = [
        r.text
        for r in spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("text")
        .collect()
    ]
    _assert_match(spark, texts)

# ---------------------------------------------------------------------------
# doc_quality_signals_kernel — row goldens
# ---------------------------------------------------------------------------

QUALITY_ADVERSARIAL = ADVERSARIAL + [
    "word " * 60 + "\n\n" + "word " * 60,          # dup paragraphs
    "line a\nline a\nline a\nline b\n\nline a",     # dup lines + para
    "  \t spaced\tout\x0btokens\r\nwith\fodd\nws ",  # Java-\s boundary
    " nbsp is NOT Java whitespace ",      # unicode ws stays in tokens
    "ends with ellipsis...\nand … unicode…\n- bullet\n* star\n• dot",
    "# sym ### more...and…mixed #",
    "THE The the BE be TO to OF AND THAT HAVE WITH",  # stopword casing
    "😀 astral 😀 astral chars count as one",        # code-point lengths
    "a\n\n\n\nb\n \nc",                             # empty-ish paragraphs
    ("x y " * 30).strip(),                          # top-bigram saturation
    "Z " + "q " * 49,                               # exactly 50 tokens
    ("tie tie four four " * 16).strip(),            # round-6 tie-prone ratios
    None,                                           # NULL text
]

QUALITY_COLS = (
    "doc_id", "n_tok", "n_lines", "symbol_word_ratio", "alpha_word_frac",
    "stop_distinct", "bullet_frac", "ellipsis_frac", "dup_line_frac",
    "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
    "top_bigram", "top2gram_char_frac", "top3gram_char_frac",
    "top4gram_char_frac", "gopher_pass",
)

# The retired expression battery's output on QUALITY_ADVERSARIAL, frozen
# when it was deleted; the kernel must reproduce it bit-exactly.  The
# NULL-text row (last) keeps n_tok/n_lines NULL, as size(NULL) is.
QUALITY_GOLDEN = [
    (0, 0, 0, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, 0.0, 0.0, 0.0, False),
    (1, 1, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, 0.0, 0.0, 0.0, False),
    (2, 5, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'a b', 0.333333, 0.555556, 0.777778, False),
    (3, 10, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'a b', 0.315789, 0.526316, 0.736842, False),
    (4, 40, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'x x', 1.481013, 2.405063, 3.278481, False),
    (5, 18, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'w1 w2', 0.283019, 0.45283, 0.622642, False),
    (6, 30, 7, 0.0, 1.0, 1, 0.0, 0.0, 0.571429, 0.83871, 0.0, 0.0, 'and odd', 0.26087, 0.670807, 0.819876, False),
    (7, 60, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 't0 t1', 0.045662, 0.073059, 0.100457, False),
    (8, 10, 1, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'α β', 0.315789, 0.526316, 0.736842, False),
    (9, 21, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'aa bb', 0.540541, 0.756757, 1.040541, False),
    (10, 120, 2, 0.0, 1.0, 0, 0.0, 0.0, 0.5, 1.0, 0.5, 1.0, 'word word', 1.78798, 2.75793, 3.711185, False),
    (11, 10, 5, 0.0, 1.0, 0, 0.0, 0.0, 0.6, 0.8, 0.0, 0.0, 'line a', 0.705882, 0.970588, 0.764706, False),
    (12, 6, 3, 0.0, 1.0, 1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'odd ws', 0.206897, 0.517241, 0.655172, False),
    (13, 5, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'Java whitespace\xa0', 0.551724, 0.689655, 0.793103, False),
    (14, 12, 5, 0.25, 0.666667, 2, 0.6, 0.4, 0.0, 0.0, 0.0, 0.0, '* star', 0.103448, 0.137931, 0.206897, False),
    (15, 5, 1, 1.4, 0.4, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, '# sym', 0.178571, 0.321429, 0.928571, False),
    (16, 12, 1, 0.0, 1.0, 8, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'AND THAT', 0.177778, 0.288889, 0.4, False),
    (17, 8, 1, 0.0, 0.75, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, '😀 astral', 0.444444, 0.5, 0.583333, False),
    (18, 3, 3, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'a b', 0.6, 1.0, 0.0, False),
    (19, 60, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'x y', 0.756303, 1.218487, 1.705882, False),
    (20, 50, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'q q', 1.454545, 2.373737, 3.252525, False),
    (21, 64, 1, 0.0, 1.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 'four four', 0.501742, 0.724739, 0.947735, False),
    (22, None, None, 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, None, 0.0, 0.0, 0.0, False),
]

# The same battery's rows on the sf0.01 documents corpus (doc_id = file
# order): row count and sha256 over the doc_id-ordered row-tuple reprs.
QUALITY_CORPUS_GOLDEN = (500, "4e5ce922ce54492addc54b81bbb40eeaf81e6f05a42fe901c6f379189f5e9b18")

def _kernel_rows(spark, texts):
    from hogzilla_spark.operators.quality import doc_quality_signals_kernel

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = doc_quality_signals_kernel(df).orderBy("doc_id")
    assert out.columns == list(QUALITY_COLS)
    return [tuple(r) for r in out.collect()]

def test_doc_quality_kernel_matches_expression_adversarial(spark):
    """The planted cross-engine boundary test (VERDICT r12 task 3): the
    Arrow kernel must reproduce the expression battery's frozen rows
    bit-exactly on documents built to probe every divergence class —
    Java-vs-Python whitespace classes, trim-space-only lines,
    unicode/astral lengths, sort-order ties, round-6 half-prone ratios,
    stopword casing, NULL text."""
    got = _kernel_rows(spark, QUALITY_ADVERSARIAL)
    assert len(got) == len(QUALITY_GOLDEN)
    for g, want in zip(got, QUALITY_GOLDEN):
        assert g == want, (g, want)

def test_doc_quality_kernel_matches_expression_corpus(spark):
    import hashlib

    texts = [
        r.text
        for r in spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("text")
        .collect()
    ]
    rows = [repr(r) for r in _kernel_rows(spark, texts)]
    got = (len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest())
    assert got == QUALITY_CORPUS_GOLDEN
