"""Training-corpus quality heuristics (Gopher / C4 rule families).

Beyond-reference surface: the reference engine (pauloangelo/hogzilla) has
no document corpus at all — these operators exist because a 100 TB
training-data pipeline needs rule-based quality filtering before any
model-based scoring.  The rule set follows the public Gopher paper
(Rae et al. 2021, "Scaling Language Models", App. A1.1) and C4
(Raffel et al. 2020 §2.2): word-count bounds, mean-word-length bounds,
symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
fraction, stopword presence, duplicate-line fractions, and
top-bigram character coverage.

Scale design: the whole rule battery is ONE Arrow-batched per-row
kernel (`doc_quality_signals_kernel`), so the operator is a narrow map
with ZERO shuffles: no explode, no groupBy, no join.  Per-row cost is
O(L log L) in the number of lines/tokens of one document, independent
of corpus size; at 100 TB the plan is a single mapInPandas pipelined
into the parquet scan.  The DuckDB oracle computes the same signals
relationally (unnest -> group), an independent derivation that gates
the kernel through the registry query `doc_quality`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Gopher App. A1.1 requires >= 2 distinct hits from this stopword set.
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]

BULLET_CHARS = ["-", "*", "•"]  # '-', '*', '•'

# Gopher thresholds (public paper values).
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_ATL, MAX_ATL = 3.0, 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_FRAC = 0.90
MAX_ELLIPSIS_FRAC = 0.30
MIN_ALPHA_WORD_FRAC = 0.80
MIN_STOP_DISTINCT = 2
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
MAX_DUP_PARA_FRAC = 0.30
MAX_DUP_PARA_CHAR_FRAC = 0.20
MAX_TOP2GRAM_CHAR_FRAC = 0.20
MAX_TOP3GRAM_CHAR_FRAC = 0.18
MAX_TOP4GRAM_CHAR_FRAC = 0.16


def doc_quality_signals_kernel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher/C4 quality signals + the combined pass flag,
    computed in one mapInPandas kernel.

    Returns `id_col` plus:
      n_tok, n_lines            — token / non-empty-line counts
      symbol_word_ratio         — ('#' + '...' + '…' occurrences) / n_tok
      alpha_word_frac           — tokens containing a letter / n_tok
      stop_distinct             — distinct GOPHER_STOPS present
      bullet_frac               — lines starting with -, *, • / n_lines
      ellipsis_frac             — lines ending with ... or … / n_lines
      dup_line_frac             — 1 - distinct_lines / n_lines
      dup_line_char_frac        — chars in duplicated lines / line chars
      dup_para_frac             — 1 - distinct_paragraphs / n_paras
      dup_para_char_frac        — chars in duplicated paragraphs / para chars
      top_bigram                — most frequent token bigram (ties: smallest)
      top2gram_char_frac        — bigram_count * len(bigram) / text chars
      top3gram_char_frac        — same for token trigrams  (Gopher < 0.18)
      top4gram_char_frac        — same for token 4-grams   (Gopher < 0.16)
      gopher_pass               — conjunction of all Gopher thresholds

    The remaining A1.1 member — character fraction inside DUPLICATED
    5..10-grams — lives in the sibling `dup_ngram_char_fractions`
    kernel (rows-only verification).

    All fractions are 0.0 for empty documents and rounded to 6 places.
    NULL text scores as empty text except that n_tok and n_lines are
    NULL, as SQL's size(NULL) is.

    Spark/DuckDB semantics are matched expression by expression (the
    DuckDB oracle replays them relationally; row goldens in
    tests/test_quality_kernels.py pin the boundary cases):

      - tokens: trim(text) split on Java `\\s+`, empties dropped — Java
        `\\s` is the ASCII class [ \\t\\n\\x0B\\f\\r] (NOT Python's
        unicode-aware \\s), so the kernel findall's its complement.
      - lines: split on literal newline, strip of 0x20 SPACES ONLY
        (SQL trim never touches tabs), drop empties.
      - paragraphs: split on `\\n\\s*\\n` — same ASCII class.
      - sorting is by code point (UTF8String compares UTF-8 bytes,
        which is code-point order); lengths count code points (astral
        chars = 1).
      - duplicate chars: when a line equals the previous sorted line,
        both occurrences' characters count (the first only once).
      - top n-gram: the most frequent, smallest gram on ties.
      - occurrence counts are non-overlapping, left to right.
      - every ratio is an int→double IEEE division; rounding is
        floor(x*1e6+0.5)/1e6 (functions/scalar.round6u); gopher_pass
        compares the unrounded doubles.

    Performance: an interpreted Column-fold form of this battery
    measured 28 s per 500 k docs at sf10 (r12); every fold lambda runs
    on Catalyst's interpreted path.
    """
    import re

    import pandas as pd

    tok_re = re.compile(r"[^ \t\n\x0B\f\r]+")
    para_re = re.compile(r"\n[ \t\n\x0B\f\r]*\n")
    alpha_re = re.compile(r"[A-Za-z]")
    stops = list(GOPHER_STOPS)
    bullets = set(BULLET_CHARS)

    def _r6(x: float) -> float:
        import math

        return float(math.floor(x * 1e6 + 0.5)) / 1e6

    def _dup_chars(sorted_vals: list[str]) -> int:
        prev, prev_dup, dup = "", False, 0
        for x in sorted_vals:
            if x == prev:
                dup += len(x) + (0 if prev_dup else len(prev))
                prev_dup = True
            else:
                prev_dup = False
            prev = x
        return dup

    def _top_run(grams: list[str]) -> tuple[str, int]:
        # value counts + smallest-gram tie-break == the fold's strict-`>`
        # first maximal run over the sorted array
        from collections import Counter

        cnt = Counter(grams)
        best_cnt = max(cnt.values())
        best = min(g for g, c in cnt.items() if c == best_cnt)
        return best, best_cnt

    def _signals(text: str) -> tuple:
        toks = tok_re.findall(text)
        n_tok = len(toks)
        lines = [s for s in (l.strip(" ") for l in text.split("\n")) if s]
        n_lines = len(lines)
        paras = [s for s in (p.strip(" ") for p in para_re.split(text)) if s]

        symbols = text.count("#") + text.count("...") + text.count("…")
        lowered = {t.lower() for t in toks}
        stop_distinct = sum(1 for s in stops if s in lowered)
        alpha_words = sum(1 for t in toks if alpha_re.search(t))
        bullet_lines = sum(1 for l in lines if l[0] in bullets)
        ellipsis_lines = sum(
            1 for l in lines if l.endswith("...") or l.endswith("…")
        )
        distinct_lines = len(set(lines))
        line_chars = sum(len(l) for l in lines)
        dup_chars = _dup_chars(sorted(lines))
        n_paras = len(paras)
        distinct_paras = len(set(paras))
        para_chars = sum(len(p) for p in paras)
        dup_para_chars = _dup_chars(sorted(paras))
        tok_chars = sum(len(t) for t in toks)

        nz_tok = n_tok > 0
        nz_lines = n_lines > 0
        symbol_word_ratio = symbols / n_tok if nz_tok else 0.0
        alpha_word_frac = alpha_words / n_tok if nz_tok else 0.0
        bullet_frac = bullet_lines / n_lines if nz_lines else 0.0
        ellipsis_frac = ellipsis_lines / n_lines if nz_lines else 0.0
        dup_line_frac = 1.0 - distinct_lines / n_lines if nz_lines else 0.0
        dup_line_char_frac = dup_chars / line_chars if line_chars > 0 else 0.0
        dup_para_frac = 1.0 - distinct_paras / n_paras if n_paras > 0 else 0.0
        dup_para_char_frac = (
            dup_para_chars / para_chars if para_chars > 0 else 0.0
        )
        norm_chars = tok_chars + (n_tok - 1)
        top_bigram = None
        top2 = top3 = top4 = 0.0
        if n_tok >= 2:
            b, c = _top_run(
                [" ".join(toks[i : i + 2]) for i in range(n_tok - 1)]
            )
            top_bigram = b
            top2 = (c * len(b)) / norm_chars
        if n_tok >= 3:
            b, c = _top_run(
                [" ".join(toks[i : i + 3]) for i in range(n_tok - 2)]
            )
            top3 = (c * len(b)) / norm_chars
        if n_tok >= 4:
            b, c = _top_run(
                [" ".join(toks[i : i + 4]) for i in range(n_tok - 3)]
            )
            top4 = (c * len(b)) / norm_chars
        atl = tok_chars / n_tok if nz_tok else 0.0

        gopher_pass = (
            MIN_WORDS <= n_tok <= MAX_WORDS
            and MIN_ATL <= atl <= MAX_ATL
            and symbol_word_ratio < MAX_SYMBOL_WORD_RATIO
            and bullet_frac < MAX_BULLET_FRAC
            and ellipsis_frac < MAX_ELLIPSIS_FRAC
            and alpha_word_frac > MIN_ALPHA_WORD_FRAC
            and stop_distinct >= MIN_STOP_DISTINCT
            and dup_line_frac < MAX_DUP_LINE_FRAC
            and dup_line_char_frac < MAX_DUP_LINE_CHAR_FRAC
            and dup_para_frac < MAX_DUP_PARA_FRAC
            and dup_para_char_frac < MAX_DUP_PARA_CHAR_FRAC
            and top2 < MAX_TOP2GRAM_CHAR_FRAC
            and top3 < MAX_TOP3GRAM_CHAR_FRAC
            and top4 < MAX_TOP4GRAM_CHAR_FRAC
        )
        return (
            n_tok,
            n_lines,
            _r6(symbol_word_ratio),
            _r6(alpha_word_frac),
            stop_distinct,
            _r6(bullet_frac),
            _r6(ellipsis_frac),
            _r6(dup_line_frac),
            _r6(dup_line_char_frac),
            _r6(dup_para_frac),
            _r6(dup_para_char_frac),
            top_bigram,
            _r6(top2),
            _r6(top3),
            _r6(top4),
            gopher_pass,
        )

    out_cols = [
        "n_tok", "n_lines", "symbol_word_ratio", "alpha_word_frac",
        "stop_distinct", "bullet_frac", "ellipsis_frac", "dup_line_frac",
        "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
        "top_bigram", "top2gram_char_frac", "top3gram_char_frac",
        "top4gram_char_frac", "gopher_pass",
    ]

    null_row = (None, None) + _signals("")[2:]

    def run(batches):
        for pdf in batches:
            rows = [
                null_row if t is None else _signals(t) for t in pdf[text_col]
            ]
            data = {id_col: pdf[id_col]}
            for j, c in enumerate(out_cols):
                data[c] = [r[j] for r in rows]
            data["n_tok"] = pd.array(data["n_tok"], dtype="Int32")
            data["n_lines"] = pd.array(data["n_lines"], dtype="Int32")
            yield pd.DataFrame(data)

    schema = (
        f"{id_col} long, n_tok int, n_lines int, symbol_word_ratio double, "
        "alpha_word_frac double, stop_distinct int, bullet_frac double, "
        "ellipsis_frac double, dup_line_frac double, "
        "dup_line_char_frac double, dup_para_frac double, "
        "dup_para_char_frac double, top_bigram string, "
        "top2gram_char_frac double, top3gram_char_frac double, "
        "top4gram_char_frac double, gopher_pass boolean"
    )
    return df.select(id_col, text_col).mapInPandas(run, schema)


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio — the CCNet/RedPajama-family
    quality heuristic the rule signals above can't express: highly
    repetitive or templated text compresses far below natural prose
    (ratio ≪ 0.4), while random/encrypted junk refuses to compress
    (ratio ≈ 1).  Both tails are quality flags.

    Returns (id, n_bytes, ratio) with ratio = deflate_size/raw_size
    rounded to 6 (0.0 for empty documents).

    zlib has no SQL equivalent, so it runs as an Arrow-batched
    mapInPandas kernel (same narrow zero-shuffle shape as the codec
    operators; rows-only verification, no DuckDB oracle).  At 100 TB
    the cost is one deflate pass per document — cheap next to
    tokenization — and parallelism is input splits.
    """
    import pandas as pd
    import zlib

    def run(batches):
        for pdf in batches:
            texts = pdf[text_col].fillna("")
            raw = [t.encode("utf-8") for t in texts]
            n = [len(b) for b in raw]
            ratio = [
                round(len(zlib.compress(b, level)) / nb, 6) if nb else 0.0
                for b, nb in zip(raw, n)
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_bytes": n, "ratio": ratio}
            )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, n_bytes long, ratio double"
    )


# Gopher A1.1 duplicate-n-gram thresholds (n=5..10).
DUP_NGRAM_MAX_FRAC = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def dup_ngram_char_fractions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Exact positional duplicated-n-gram character coverage — the last
    member of the Gopher A1.1 repetition battery (the one
    `doc_quality_signals_kernel` documents as omitted): for each n, the
    fraction of token characters lying inside ANY occurrence of an
    n-gram that appears ≥ 2 times in the document.  Positional coverage
    (a token counted once however many duplicated n-grams overlap it)
    is what the paper specifies; it needs per-position dup marking — a
    different algorithm than the value-count folds, so this runs as an
    Arrow-batched mapInPandas kernel (rows-only verification; no
    tractable SQL twin) rather than a Column expression.

    Returns (id, dup_5gram_char_frac, ..., dup_10gram_char_frac,
    repetition_pass) — pass = every fraction under its paper threshold
    (0.15 down to 0.10).  Convention, documented: numerator and
    denominator count TOKEN characters (no inter-token separators);
    public implementations differ on separator handling, and the
    token-char form is order-independent of the original whitespace.

    Same scale shape as every narrow kernel here: zero shuffles, one
    pass per document, parallelism = input splits.

    NEGATIVE RESULT, kept for the record (r13, VERDICT r12 task 3):
    two batch-vectorized rewrites of this loop were measured at the
    planted sf10 corpus (500 k short docs) and BOTH lost to this dict
    loop — np.unique over packed void gram rows (memcmp sorts per n) +
    np.add.at coverage: 48.6 s vs 5.5 s; incremental
    pd.factorize-coded grams + bincount coverage: 10.7 s vs 5.5 s
    (interleaved minima, same session).  For short-document corpora
    the per-batch numpy machinery costs more than CPython dict passes
    over ~100-token docs; the loop stays.  Details in
    OPTIMIZATION_r13.md §3.
    """
    import pandas as pd

    cols = [f"dup_{n}gram_char_frac" for n in ns]
    ns_t = tuple(ns)

    def run(batches):
        for pdf in batches:
            out = {c: [] for c in cols}
            passes = []
            for text in pdf[text_col].fillna(""):
                toks = text.split()
                lens = [len(t) for t in toks]
                total = sum(lens)
                ok = True
                for n, c in zip(ns_t, cols):
                    if total == 0 or len(toks) < n:
                        out[c].append(0.0)
                        continue
                    seen: dict[tuple, int] = {}
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
                    out[c].append(frac)
                    if frac >= DUP_NGRAM_MAX_FRAC.get(n, 1.0):
                        ok = False
                passes.append(ok)
            yield pd.DataFrame(
                {id_col: pdf[id_col], **out, "repetition_pass": passes}
            )

    schema = f"{id_col} long, " + ", ".join(f"{c} double" for c in cols) + \
        ", repetition_pass boolean"
    return df.select(id_col, text_col).mapInPandas(run, schema)
