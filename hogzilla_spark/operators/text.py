"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (JVM-side, no Python UDFs): at 100 TB these
run inside whole-stage codegen over the parquet scan with full column
pruning.  Designed to be oracle-checkable: every function has an exact
ANSI-SQL equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.functions.scalar import round6u

# A small multilingual stopword table for the n-gram/stopword heuristics.
STOPWORDS_EN = [
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]

def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty strings filtered (split on runs)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")

def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))

# Marker-word tables for the language-ID heuristic: tiny per-language
# stopword lists; the language with the most token hits wins.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "pour", "que", "dans", "pas"],
    "es": ["el", "los", "las", "es", "una", "para", "que", "por", "con", "del"],
    "pt": ["o", "os", "as", "e", "um", "uma", "para", "que", "com", "nao"],
}

# A BPE-ish pre-tokenization regex (GPT-2 style simplification): words,
# numbers, punctuation runs, each with optional leading space.  Both the
# Java regex engine and RE2 (DuckDB) support these classes identically.
BPE_TOKEN_REGEX = r" ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"

def token_count_bpe(text: Column | str) -> Column:
    """Approximate LLM-token count via BPE-ish pre-tokenization — the
    per-document budget estimator a training pipeline runs at ingest."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_REGEX), 0))

# PII scrub patterns, ordered (URL before email: an URL may embed an
# email-shaped userinfo).  Dialect-portable Java∩RE2 subset — no
# lookaround, no backreferences — same parity contract as
# BPE_TOKEN_REGEX, so the DuckDB oracle applies the identical chain.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{7,}\b", "<NUM>"),
]

def scrub_pii(text: Column | str) -> Column:
    """Redact URLs, emails, IPv4s, and long digit runs with typed
    placeholders — the standard pre-training privacy pass.  A chain of
    JVM regexp_replace calls: whole-stage-codegen'd, no Python."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c

def text_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document text profile.

    `df` must carry `id_col` (the normal 100 TB shape: every document
    has a key).  Token statistics run as explode → native `isin` aggregates:
    literal-list membership compiles to an InSet hash probe inside
    whole-stage codegen, ~10× the throughput of interpreted per-token
    higher-order lambdas, and the groupBy's map-side partial combine
    means the shuffle carries one small stats row per document.

    Stats are keyed by a hash of the TEXT, not by `id_col`, so duplicate
    ids (or duplicate rows) still get correct per-row profiles, and
    repeated texts are tokenized/aggregated once per distinct text
    rather than once per row.
    """
    if id_col not in df.columns:
        raise ValueError(f"text_profile needs a key column {id_col!r}")
    text = F.col(text_col)
    base = df.withColumn("__key", F.md5(text))
    lt = F.lower(F.col("__t"))
    marker_aggs = [
        F.sum(lt.isin(LANG_MARKERS[lang]).cast("int")).alias(f"__s_{lang}")
        for lang in sorted(LANG_MARKERS)
    ]
    stats = (
        base.select("__key", tokens(text_col).alias("__tok"))
        .dropDuplicates(["__key"])
        .select(F.col("__key").alias("__id"), F.explode("__tok").alias("__t"))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("__n"),
            F.sum(F.length("__t")).cast("int").alias("__len"),
            F.sum(lt.isin(STOPWORDS_EN).cast("int")).cast("int").alias("__sw"),
            *marker_aggs,
        )
    )
    joined = base.join(stats, F.col("__key") == F.col("__id"), "left")
    n = F.coalesce(F.col("__n"), F.lit(0))
    nz = n > 0
    atl = F.when(nz, F.col("__len").cast("double") / n).otherwise(F.lit(0.0))
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[!-/:-@\[-`{-~]", ""))
    pr = F.when(F.length(text) > 0, punct.cast("double") / F.length(text)).otherwise(
        F.lit(0.0)
    )
    sr = F.when(nz, F.col("__sw").cast("double") / n).otherwise(F.lit(0.0))
    length_score = F.least(n.cast("double") / F.lit(50.0), F.lit(1.0))
    wordlen_score = F.when((atl >= 3.0) & (atl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(pr * 5.0, F.lit(1.0))
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # alphabetical; strict > keeps first maximal
        s = F.coalesce(F.col(f"__s_{lang}"), F.lit(0))
        improved = s > best_score
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(improved, s).otherwise(best_score)
    internal = ["__key", "__id", "__n", "__len", "__sw"] + [
        f"__s_{lang}" for lang in sorted(LANG_MARKERS)
    ]
    return joined.select(
        "*",
        n.alias("n_tokens"),
        round6u(atl).alias("avg_token_len"),
        round6u(pr).alias("punct_ratio"),
        round6u(sr).alias("stopword_ratio"),
        round6u((length_score + wordlen_score + punct_score) / 3.0).alias("quality"),
        F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")).alias("fp"),
        best_lang.alias("lang_pred"),
    ).drop(*internal)

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    of RAG indexing and long-document training: each document becomes
    ceil(max(n - chunk_tokens, 0) / stride) + 1 windows of
    `chunk_tokens` whitespace tokens, starting every `stride` tokens
    (so consecutive chunks overlap by chunk_tokens - stride); the last
    window is allowed to be short.  Empty documents yield no rows.

    Returns (id, chunk_id, n_tokens, chunk_text) — chunk_id is the
    0-based window index, deterministic from the text alone.

    Scale shape: a single narrow projection + posexplode — no shuffle,
    no window function, no Python.  The token array is built once per
    row and sliced per chunk inside whole-stage codegen; output size is
    ~n/stride rows per doc, produced streaming per input partition, so
    the operator pipelines straight into a downstream embed/write stage
    without a repartition.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError("require 0 < stride <= chunk_tokens")
    w = tokens(text_col)
    n = F.coalesce(F.size(w), F.lit(0))  # NULL text → 0 tokens → no chunks
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.ceil((F.greatest(n - F.lit(chunk_tokens), F.lit(0)))
               / F.lit(stride)).cast("int") + 1
    )
    # sequence(0, -1) would descend — guard the empty-document case
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = df.select(
        F.col(id_col),
        w.alias("__w"),
        F.explode(idx).alias("chunk_id"),
    )
    chunk = F.slice(F.col("__w"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return out.select(
        id_col,
        "chunk_id",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )

def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 keyword scoring: top-`k` documents for a bag of query
    `terms` (Robertson & Walker 1994; the Lucene `ln(1 + (N-df+0.5)/
    (df+0.5))` idf form, always positive).

    Returns (id, score_u, n_hits): score_u is the BM25 score in integer
    MICROUNITS — each per-(doc,term) contribution is rounded to 1e-6
    and summed as a BIGINT, so the cross-term addition is exact integer
    math and hash-identical in any engine (double sums are
    order-sensitive in the last ulp; an oracle cannot replay Spark's
    aggregation order).  n_hits = distinct query terms present.

    Scale shape: the explode is immediately filtered to the query terms
    (a broadcast isin — the inverted index never materializes for
    non-query vocabulary), tf is a (doc,term) groupBy with map-side
    combine, df/idf is a ≤|terms|-row aggregate joined back broadcast,
    and the final ranking is TakeOrderedAndProject via `top_k`.  Corpus
    stats (N, avgdl) are ONE single-row aggregate collected up front
    and baked into the plan as literals (the kmeans-stats pattern; a
    broadcast cross join would plan as the BroadcastNestedLoopJoin the
    plan suite bans) — the corpus itself never collects.
    """
    from hogzilla_spark.operators.topk import top_k

    if not terms:
        raise ValueError("bm25_topk requires a non-empty term list")
    # NULL text must mean dl=0, not size(NULL)=-1 (which would skew
    # avgdl negative while a SQL AVG silently skips the NULL row) —
    # same hazard dedup_lines fixed; the oracle coalesces identically.
    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    d = df.select(F.col(id_col), toks.alias("__w")).select(
        id_col, F.size("__w").alias("__dl"), "__w"
    )
    n_docs, avgdl = d.agg(
        F.count(F.lit(1)), F.avg("__dl")
    ).first()
    avgdl = float(avgdl) if avgdl else 1.0  # empty corpus → no rows flow
    hits = (
        d.select(id_col, "__dl", F.explode("__w").alias("__term"))
        .filter(F.col("__term").isin(*terms))
    )
    tf = hits.groupBy(id_col, "__term").agg(
        F.first("__dl").alias("__dl"), F.count(F.lit(1)).alias("__tf")
    )
    dfreq = hits.groupBy("__term").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    tf_part = (F.col("__tf") * (k1 + 1)) / (
        F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.lit(float(avgdl)))
    )
    scored = tf.join(F.broadcast(dfreq), "__term").select(
        id_col,
        F.round(idf * tf_part * 1e6).cast("long").alias("__su"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__su").alias("score_u"), F.count(F.lit(1)).alias("n_hits")
    )
    return top_k(per_doc, [F.col("score_u").desc(), F.col(id_col)], k)

def _bigram_frame(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, prev, cur) — one row per adjacent lowercase-token pair.
    Docs with fewer than two tokens contribute nothing."""
    from hogzilla_spark.sources.catalog import spread_small_scan

    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    # tokenize+pair explode is the heavy per-row stage; floor
    # parallelism on small single-split scans (no-op at scale)
    d = (
        spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("__w"))
        .filter(F.size("__w") >= 2)
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("__w") - 2),
        lambda i: F.struct(
            F.get("__w", i).alias("prev"), F.get("__w", i + 1).alias("cur")
        ),
    )
    return d.select(id_col, F.explode(pairs).alias("__p")).select(
        id_col, F.col("__p.prev").alias("prev"), F.col("__p.cur").alias("cur")
    )

class LMModel:
    """A trained add-k bigram LM: two count DataFrames + the vocab
    scalar, reusable across many `lm_score` calls (the corpus-pipeline
    and streaming-ingest integration point — train once, score every
    batch against the same static counts).

    `b_cnt` (prev, cur, __bc) and `c_cnt` (prev, __cc) are materialized
    with an eager localCheckpoint so per-batch scoring joins never
    re-derive the reference corpus lineage.  The checkpointed blocks
    live until the model object is garbage-collected (Spark's
    ContextCleaner frees the backing RDDs then) — drop the reference
    when done; for ONE-SHOT scoring prefer `lm_cross_entropy(df,
    ref=...)`, which builds the same counts lazily and pins nothing."""

    def __init__(self, b_cnt: DataFrame, c_cnt: DataFrame, vocab: int, k: float):
        self.b_cnt = b_cnt
        self.c_cnt = c_cnt
        self.vocab = vocab
        self.k = k

def lm_train(
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
) -> LMModel:
    """Train the add-k bigram LM once over `ref` and materialize its
    count tables (see `lm_cross_entropy` for the model definition).
    Use with `lm_score` when the same model scores many frames —
    per-micro-batch streaming ingest, or a foreign wiki-style
    reference LM shared across pipeline runs (CCNet's actual shape)."""
    vocab = (
        ref.select(
            F.explode(
                tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
            ).alias("__t")
        )
        .agg(F.count_distinct("__t"))
        .first()[0]
    )
    ref_bg = _bigram_frame(ref, id_col, text_col)
    b_cnt = (
        ref_bg.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("__bc"))
        .localCheckpoint(eager=True)
    )
    c_cnt = (
        ref_bg.groupBy("prev")
        .agg(F.count(F.lit(1)).alias("__cc"))
        .localCheckpoint(eager=True)
    )
    return LMModel(b_cnt, c_cnt, vocab, k)

def _lm_lp_expr(vocab: int, k: float):
    return (
        F.round(
            -F.log(
                (F.coalesce("__bc", F.lit(0)) + F.lit(k))
                / (F.coalesce("__cc", F.lit(0)) + F.lit(k * vocab))
            )
            * 1e6
        )
        .cast("long")
        .alias("__lp")
    )

def lm_score(
    df: DataFrame,
    model: LMModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score `df` against a trained `LMModel` — the foreign-reference
    half of `lm_cross_entropy`, factored out so the model trains once.
    Returns (id, n_bigrams, xent_micro); same integer-micro-nat math,
    bit-identical to `lm_cross_entropy(df, ref=...)` on the same ref."""
    doc_bg = (
        _bigram_frame(df, id_col, text_col)
        .groupBy(id_col, "prev", "cur")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    scored = (
        doc_bg.join(model.b_cnt, ["prev", "cur"], "left")
        .join(model.c_cnt, ["prev"], "left")
        .select(id_col, "__n", _lm_lp_expr(model.vocab, model.k))
    )
    return scored.groupBy(id_col).agg(
        F.sum("__n").alias("n_bigrams"),
        F.sum(F.col("__n") * F.col("__lp")).alias("xent_micro"),
    )

def perplexity_col(n_bigrams="n_bigrams", xent_micro="xent_micro"):
    """exp(xent_micro / 1e6 / n_bigrams) — the perplexity a filtering
    pipeline buckets on, as one shared expression so every caller
    (batch plan, streaming sink, tests) does the identical double math."""
    n = F.col(n_bigrams) if isinstance(n_bigrams, str) else n_bigrams
    x = F.col(xent_micro) if isinstance(xent_micro, str) else xent_micro
    return F.exp(x / F.lit(1e6) / n)

def lm_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame | None = None,
    k: float = 0.5,
) -> DataFrame:
    """CCNet-family LM quality signal (Wenzek et al. 2020 use a KenLM
    wiki model; the relational form is engine-native): per-document
    cross-entropy under an add-k-smoothed bigram LM trained on `ref`
    (default: the corpus itself — self-scoring flags the repetitive
    and the alien alike).  P(w|prev) = (C(prev,w)+k)/(C(prev)+k·V)
    with V = |ref vocabulary| and C(prev) counted over bigram context
    positions, so each conditional sums to exactly 1 over the vocab.

    Returns (id, n_bigrams ≥ 1, xent_micro): xent_micro is
    Σ round(−ln P · 1e6) as BIGINT — per-position micro-nats rounded
    BEFORE the sum, the bm25 trick that makes the cross-position
    addition exact integer math and hash-identical in any engine
    (double sums are order-sensitive in the last ulp).  Perplexity =
    exp(xent_micro / 1e6 / n_bigrams); filtering pipelines bucket on
    it directly.

    Scale shape: the LM "model" is two count tables, built with
    map-side-combining groupBys over the ref bigram frame; scoring is
    two equi-joins keyed (prev,cur) and (prev) — no driver state but
    two scalars (V and nothing else) baked as literals.  Hot contexts
    ("the", "of") are exactly the keys AQE's skew-join splitting
    handles; the count tables are Zipf-compact (vocab², realized far
    sparser) and broadcast when small.
    """
    if ref is not None:
        # Scoring against a foreign reference LM: doc bigrams can miss
        # both tables (smoothing handles it via COALESCE→0), and the
        # scored corpus is normally much smaller than the ref, so the
        # two lookup joins stay on the small side.  This one-shot path
        # stays LAZY (no localCheckpoint of the count tables) — only
        # the vocab scalar runs eagerly, exactly as before; callers
        # that reuse one model across many frames should use the
        # factored lm_train/lm_score pair, whose eager checkpoints
        # amortize over the reuses.
        vocab = (
            ref.select(
                F.explode(
                    tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
                ).alias("__t")
            )
            .agg(F.count_distinct("__t"))
            .first()[0]
        )
        ref_bg = _bigram_frame(ref, id_col, text_col)
        doc_bg = (
            _bigram_frame(df, id_col, text_col)
            .groupBy(id_col, "prev", "cur")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        b_cnt = ref_bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("__bc"))
        c_cnt = ref_bg.groupBy("prev").agg(F.count(F.lit(1)).alias("__cc"))
        scored = (
            doc_bg.join(b_cnt, ["prev", "cur"], "left")
            .join(c_cnt, ["prev"], "left")
            .select(id_col, "__n", _lm_lp_expr(vocab, k))
        )
        return scored.groupBy(id_col).agg(
            F.sum("__n").alias("n_bigrams"),
            F.sum(F.col("__n") * F.col("__lp")).alias("xent_micro"),
        )
    vocab = (
        df.select(
            F.explode(
                tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
            ).alias("__t")
        )
        .agg(F.count_distinct("__t"))
        .first()[0]
    )
    # collapse repeated (doc, prev, cur) positions BEFORE the join:
    # xent is Σ n·lp, so a boilerplate-heavy doc joins each distinct
    # bigram once — map-side combine shrinks the join input by the
    # corpus's repetition factor (the shuffle is ≈ distinct bigram
    # positions, not token count)
    doc_bg = (
        _bigram_frame(df, id_col, text_col)
        .groupBy(id_col, "prev", "cur")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # self-scoring: the LM counts are aggregates OF the collapsed
    # doc frame — two re-groupings of the same lineage instead of
    # two more tokenize/explode passes over the full corpus text
    b_cnt = doc_bg.groupBy("prev", "cur").agg(F.sum("__n").alias("__bc"))
    c_cnt = doc_bg.groupBy("prev").agg(F.sum("__n").alias("__cc"))
    # Self-scoring: every (prev,cur) in doc_bg IS in b_cnt and
    # every prev in c_cnt (the counts are aggregates of doc_bg),
    # so no miss fallback exists and the log-prob can be computed
    # on the COUNT tables and joined to the position frame ONCE.
    # Joining doc_bg → b_cnt → c_cnt instead shuffles the
    # ~n_positions-row stream a second time on (prev); b_cnt ⋈
    # c_cnt shuffles only distinct-bigram-sized tables.  Same
    # double arithmetic on the same values — bit-identical __lp.
    lp_tab = b_cnt.join(c_cnt, ["prev"], "inner").select(
        "prev", "cur", _lm_lp_expr(vocab, k)
    )
    scored = doc_bg.join(lp_tab, ["prev", "cur"], "inner").select(
        id_col, "__n", "__lp"
    )
    return scored.groupBy(id_col).agg(
        F.sum("__n").alias("n_bigrams"),
        F.sum(F.col("__n") * F.col("__lp")).alias("xent_micro"),
    )
