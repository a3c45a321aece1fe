"""Deduplication operators for training-data pipelines.

Exact dedup is one hash-groupBy on a fingerprint computed map-side, so
only (hash, id) pairs move, never the text.

Every near-duplicate family finds its candidates with one operator,
`_bucket_pairs`: a family maps each document to bucket keys, the
operator equi-joins the (id, key) rows on the key, orders each pair and
reduces it to distinct pairs or a per-pair count of shared buckets, and
the family verifies what comes out.  The shuffle key space is the
bucket, never the O(n²) pair space.

  - MinHash-LSH (`minhash_lsh_pairs`, `minhash_lsh_pairs_incremental`,
    `decontaminate`): buckets are (band, md5 of the band's minhashes);
    candidates are verified by exact shingle-set Jaccard
    (`_jaccard_verify`).
  - exact n-gram Jaccard (`ngram_jaccard_pairs_dual`):
    buckets are the shingles themselves, so the shared-bucket count IS
    |A∩B| and there is nothing to verify.
  - SimHash (`simhash_pairs`, `simhash128_pairs`): buckets are the
    signature's pigeonhole chunks; candidates are verified by the exact
    hamming distance (`_hamming_pairs`).

Hash functions are md5-based and engine-portable: the DuckDB oracle
reproduces every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hogzilla_spark.functions.scalar import round6u
from hogzilla_spark.operators.text import fingerprint
from hogzilla_spark.sources.catalog import release_cut, spread_small_scan

# --- exact dedup ------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (fp, n_dups, keep_id = min id).  Downstream keeps `keep_id` rows."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )

def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per normalized-text fingerprint."""
    keep = exact_dup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")

# --- shingling --------------------------------------------------------------

def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams as array<string> ("a b c" style); empty for
    NULL text and for documents of fewer than k tokens, which therefore
    never pair.

    The token array is BOUND once via a single-element-array transform:
    higher-order functions are interpreted (no codegen subexpression
    elimination), so referencing the split expression inside the
    per-index lambda would re-run the regex split for every F.get —
    ~900 splits/row instead of 1 (measured 22s → <1s on 5k docs).
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: t != "")

    def shingles_of(tk: Column) -> Column:
        # one slot per k-gram start: max(n − k + 1, 0) of them
        starts = F.array_repeat(F.lit(0), F.greatest(F.size(tk) - (k - 1), F.lit(0)))
        return F.array_distinct(
            F.transform(
                starts,
                lambda _, i: F.concat_ws(" ", *[F.get(tk, i + j) for j in range(k)]),
            )
        )

    return F.get(F.transform(F.array(toks), shingles_of), 0)

def _shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, sh) shingle sets of the documents that have any.  The regex
    shingle kernel is the heavy per-row stage, so its parallelism is
    floored when the corpus arrives as an unsplittable small scan
    (r12: 4.5 s single-core at sf0.1 with 31 cores idle)."""
    return (
        spread_small_scan(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select("id", word_shingles(text_col, k).alias("sh"))
        .filter(F.size("sh") > 0)
    )

# --- bucket pairs -----------------------------------------------------------

def _bucket_pairs(
    keys: DataFrame,
    on: list[str],
    other: DataFrame | None = None,
    ordered: bool = False,
    carry: tuple[str, ...] = (),
    agg: list[Column] | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs of documents that share a bucket —
    the one bucket equi-join behind every near-duplicate family here.

    `keys` holds one (id, *on) row per document per bucket.  Alone it is
    self-joined on `on` and each pair comes once, as id_a < id_b.  With
    `other` (id, *on), each `keys` row pairs with the `other` rows of its
    bucket: as (keys id, other id) when `ordered`, otherwise as
    (least, greatest) with equal ids dropped.

    `carry` names columns that depend only on the id (n-gram sizes,
    SimHash words); they come out as <c>_a and <c>_b beside their id
    (self-join and `ordered` pairs; the least/greatest swap does not
    move them).  Any other column of `keys` is a bucket attribute that
    `agg` may read.

    Without `agg` the result is the distinct pairs with their carried
    columns; with it, the rows grouped by pair and carried columns and
    aggregated by `agg` — `F.count(F.lit(1))` counts the shared buckets.
    """
    def side(df: DataFrame, s: str, rest: list[str]) -> DataFrame:
        return df.select(
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *rest,
        )

    a = side(keys, "a", [c for c in keys.columns if c not in ("id", *carry)])
    pairs = a.join(side(keys if other is None else other, "b", on), on)
    id_a, id_b = F.col("id_a"), F.col("id_b")
    if other is None:
        pairs = pairs.filter(id_a < id_b)
    elif not ordered:
        pairs = pairs.filter(id_a != id_b)
        id_a, id_b = F.least(id_a, id_b), F.greatest(id_a, id_b)
    cols = [
        id_a.alias("id_a"), id_b.alias("id_b"),
        *[f"{c}_{s}" for s in "ab" for c in carry],
    ]
    if agg is None:
        return pairs.select(*cols).dropDuplicates(["id_a", "id_b"])
    return pairs.groupBy(*cols).agg(*agg)

# --- MinHash + LSH ----------------------------------------------------------

MINHASH_P = (1 << 61) - 1  # Mersenne prime; products stay < 2^62 < p*2

def minhash_params(num_hashes: int = 16) -> tuple[int, list[int], list[int]]:
    """(p, a[], b[]) for the universal family h_i(x) = (a_i·x + b_i) mod p
    over 31-bit base hashes.  a_i < 2^31 keeps a_i·x < 2^62 — exact in
    signed-64 arithmetic in BOTH Spark and DuckDB, so the oracle can
    reproduce every signature bit-for-bit."""
    a = [((i + 1) * 2654435761) % (1 << 31) or 1 for i in range(num_hashes)]
    b = [((i + 1) * 2246822519) % (1 << 31) for i in range(num_hashes)]
    return MINHASH_P, a, b

def _base_hash(s: Column) -> Column:
    """31-bit base hash of a shingle: first 8 md5 hex chars, masked.
    ONE md5 per shingle; the K minhashes derive via cheap multiply-mod."""
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit((1 << 31) - 1))
    )

def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """K portable minhashes: min over shingles of (a_i·md5_31(s)+b_i) mod p.

    Returns array<long> of length K (null-free docs only).

    ENGINE HAZARD: this must NOT be written as K sibling
    ``F.transform(shingles, ...)`` columns differing only in an embedded
    literal — in Spark 4.1 sibling higher-order functions whose lambdas
    share an argument name get cross-bound during codegen and return
    corrupted values (regression-tested in tests/test_operators.py::
    test_sibling_hof_lambda_hazard).  One transform builds the base
    hashes (one md5 per shingle), then one aggregate carries all K
    running minima — no sibling lambdas anywhere.
    """
    p, a, b = minhash_params(num_hashes)
    params = F.array(
        *[
            F.struct(F.lit(a[i]).alias("a"), F.lit(b[i]).alias("b"))
            for i in range(num_hashes)
        ]
    )
    bases = F.transform(shingles, _base_hash)
    init = F.array_repeat(F.lit(p).cast("long"), num_hashes)
    return F.aggregate(
        bases,
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda cur, pr: F.least(cur, (pr["a"] * h + pr["b"]) % p)
        ),
    )

def _minhash_sig_table(base: DataFrame, num_hashes: int) -> DataFrame:
    """(id, mh0..mhK-1) signature table from a (id, sh) shingle table.

    Shape: explode shingles → ONE md5 base hash per shingle (projected
    BEFORE the groupBy so it isn't re-evaluated per aggregate) → K
    min((a_i·h+b_i) mod p) aggregates.  No higher-order functions at all
    — immune to the sibling-HOF cross-binding hazard (see
    minhash_signature) — and the partial (map-side) min combine means
    the groupBy shuffles exactly one K-hash row per id per map task,
    not the exploded shingles.
    """
    p, a, b = minhash_params(num_hashes)
    hashed = base.select("id", F.explode("sh").alias("s")).select(
        "id", _base_hash(F.col("s")).alias("h")
    )
    return hashed.groupBy("id").agg(
        *[
            F.min((F.lit(a[i]) * F.col("h") + F.lit(b[i])) % p).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )

def _band_keys(hashes: list[Column], num_bands: int) -> Column:
    """array<struct<band:int, key:string>> over K minhash Columns: band
    b's key is md5 of its r = K // num_bands minhashes joined by "|".
    The one definition of the LSH band key — the stream
    (`minhash_bands`), the batch self-join and the persisted index
    (`_band_rows`) all build it here, so they agree by construction."""
    rows = len(hashes) // num_bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *hashes[b * rows : (b + 1) * rows])).alias("key"),
            )
            for b in range(num_bands)
        ]
    )

def minhash_bands(sig: Column, num_bands: int = 4, rows_per_band: int = 4) -> Column:
    """Bands of an array<long> signature Column (`minhash_signature`)
    as array<struct<band:int, key:string>> — the map-side form the
    streams use."""
    return _band_keys(
        [F.get(sig, i) for i in range(num_bands * rows_per_band)], num_bands
    )

def _band_rows(base: DataFrame, num_hashes: int, num_bands: int) -> DataFrame:
    """(id, band, key) rows of an (id, sh) shingle table: the
    `_minhash_sig_table` signatures exploded into their band keys."""
    sig = _minhash_sig_table(base, num_hashes)
    keys = _band_keys([F.col(f"mh{i}") for i in range(num_hashes)], num_bands)
    return sig.select("id", F.explode(keys).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )

def _candidate_shingles(
    docs: DataFrame, ids: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, sh) shingle sets of just the documents whose id is in `ids`
    (column __cid): verification re-shingles candidates, not the corpus."""
    return docs.join(ids, F.col(id_col) == F.col("__cid"), "left_semi").select(
        F.col(id_col).alias("id"), word_shingles(text_col, k).alias("sh")
    )

def _jaccard_verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, min_jaccard: float
) -> DataFrame:
    """(id_a, id_b, jaccard) of candidate pairs: exact Jaccard of the
    (id, sh) shingle sets `sh_a` holds for id_a and `sh_b` for id_b,
    kept at jaccard >= min_jaccard."""
    def side(sh: DataFrame, s: str) -> DataFrame:
        return sh.select(F.col("id").alias(f"id_{s}"), F.col("sh").alias(f"sh_{s}"))

    pairs = cand.join(side(sh_a, "a"), "id_a").join(side(sh_b, "b"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return pairs.select(
        "id_a", "id_b", round6u(inter / union).alias("jaccard")
    ).filter(F.col("jaccard") >= min_jaccard)

def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.

    The call RUNS the query and returns a local checkpoint of the
    (small) verified pair set, so the O(corpus) shingle cache is
    released before returning: repeated calls in a long-lived session
    accumulate no cached shingles.  The pair set funnels the whole
    query, so it is materialized at every size; a caller that needs it
    to survive a lost executor writes it out.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= min_jaccard.
    """
    # the shingle sets feed the signatures and both verify sides
    base = _shingle_sets(df, id_col, text_col, shingle_k).persist()
    # buckets carry only (id, band, key): candidate generation shuffles
    # ids, never shingle arrays
    cand = _bucket_pairs(_band_rows(base, num_hashes, num_bands), ["band", "key"])
    out = _jaccard_verify(cand, base, base, min_jaccard).localCheckpoint(eager=True)
    base.unpersist()
    return out

def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """The persistable LSH band index: one (id, band, key) row per band
    per document.  A 100 TB ingest builds this once for the corpus,
    writes it partitioned/bucketed by (band, key), and each new batch
    joins its own (tiny) band rows against it — no corpus re-shingle,
    no full self-join."""
    return _band_rows(_shingle_sets(df, id_col, text_col, shingle_k), num_hashes, num_bands)

def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    band_index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs TOUCHING the new batch
    (new↔corpus and new↔new), the shape a continuous ingest runs.

    The new batch's band rows join against the persisted `band_index`
    (pass None to derive it from `corpus` on the fly) plus themselves;
    exact-Jaccard verification re-shingles ONLY the candidate documents
    — the corpus is never re-shingled or self-joined.  Equivalent to
    `minhash_lsh_pairs(corpus ∪ new)` filtered to pairs with a new-batch
    member.

    The candidate id-pair set — small by LSH construction — is
    local-checkpointed when the call builds the query: it feeds three
    consumers (both id sides of the verify join and the semi-join id
    list), and without the checkpoint the planner re-derives the whole
    banding subtree per consumer (measured 31 scans of the source in
    one plan).  The returned verify stage stays lazy.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= min_jaccard.
    """
    if band_index is None:
        band_index = minhash_band_index(
            corpus, id_col, text_col, shingle_k, num_hashes, num_bands
        )
    new_bands = minhash_band_index(
        new_docs, id_col, text_col, shingle_k, num_hashes, num_bands
    )
    cand = _bucket_pairs(
        new_bands, ["band", "key"], band_index.unionByName(new_bands)
    ).localCheckpoint(eager=True)
    docs = corpus.select(id_col, text_col).unionByName(new_docs.select(id_col, text_col))
    ids = cand.select(F.col("id_a").alias("__cid")).unionByName(
        cand.select(F.col("id_b").alias("__cid"))
    ).distinct()
    sh = _candidate_shingles(docs, ids, id_col, text_col, shingle_k)
    return _jaccard_verify(cand, sh, sh, min_jaccard)

def decontaminate(
    corpus: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Test-set decontamination: corpus documents that near-duplicate a
    held-out/eval document — the train/test contamination sweep every
    training pipeline runs before a release.

    Cross-corpus LSH: corpus band rows join ONLY the heldout band rows
    (never corpus↔corpus), so the work is O(corpus bands) + candidate
    verification; the heldout side is an eval set — small by
    definition — and is broadcast.  Verification re-shingles just the
    candidate corpus documents.  Equivalent to
    ``minhash_lsh_pairs(corpus ∪ heldout)`` restricted to cross pairs.
    The small candidate set is checkpointed so its banding subtree isn't
    re-derived per verify consumer.

    Returns (corpus_id, heldout_id, jaccard) with jaccard >= min_jaccard.
    """
    c_bands = minhash_band_index(
        corpus, id_col, text_col, shingle_k, num_hashes, num_bands
    )
    h_bands = minhash_band_index(
        heldout, id_col, text_col, shingle_k, num_hashes, num_bands
    )
    cand = _bucket_pairs(
        c_bands, ["band", "key"], F.broadcast(h_bands), ordered=True
    ).localCheckpoint(eager=True)
    c_sh = _candidate_shingles(
        corpus, cand.select(F.col("id_a").alias("__cid")).distinct(),
        id_col, text_col, shingle_k,
    )
    h_sh = heldout.select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_k).alias("sh")
    )
    return _jaccard_verify(cand, c_sh, F.broadcast(h_sh), min_jaccard).select(
        F.col("id_a").alias("corpus_id"), F.col("id_b").alias("heldout_id"), "jaccard"
    )

# --- exact n-gram Jaccard ---------------------------------------------------

def _ngram_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, n, s): one row per distinct shingle s of each document, n =
    the document's shingle count; persisted — it feeds the frequency
    counts, the hot-shingle correction and both join sides, and Spark
    does not reuse the scan across them (measured 8 scans without)."""
    return (
        _shingle_sets(df, id_col, text_col, k)
        .select("id", F.size("sh").alias("n"), F.explode("sh").alias("s"))
        .persist()
    )

def _hot_drops(sh: DataFrame, counts: DataFrame, max_shingle_freq: int) -> DataFrame:
    """(id, __n_drop): per document, how many of its shingles occur in
    more than `max_shingle_freq` documents (`counts`: s, __f).  The
    over-cap set is tiny, so this correction table stays small (one row
    per boilerplate-carrying doc)."""
    hot = counts.filter(F.col("__f") > max_shingle_freq).select("s")
    return sh.join(hot, "s", "left_semi").groupBy("id").agg(
        F.count(F.lit(1)).alias("__n_drop")
    )

def _count_jaccard(inter: str, n_a: str, n_b: str) -> Column:
    """round6 of |A∩B| / (|A| + |B| − |A∩B|)."""
    return round6u(
        F.col(inter).cast("double")
        / (F.col(n_a) + F.col(n_b) - F.col(inter)).cast("double")
    )

def ngram_jaccard_pairs_dual(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_shingle_freq: int = 10_000,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs, fully relational, in two
    variants — uncapped AND freq-capped — from ONE shingle scan and ONE
    self-join (r12 optimization; guide §2.3 "don't compute things twice").

    Each shingle is a bucket: the per-pair shared-bucket count IS |A∩B|,
    and |A∪B| = |A|+|B|−|A∩B| — no candidate generation, no
    approximation, recall 1 by construction.  Singleton shingles never
    match, so the self-join input drops them.

    The capped variant ignores shingles shared by more than
    `max_shingle_freq` documents (boilerplate) and is EXACT over that
    filtered universe: per-doc sizes are corrected by each doc's
    hot-shingle count, so it equals the uncapped value for every pair
    whose shingles all survive the cap.  Its join universe
    (2 <= f <= cap) is a subset of the uncapped one's (f >= 2), so the
    one self-join counts `inter` over all matched shingles and `inter_c`
    over only the <= cap ones.  Pairs whose capped intersection is
    empty produce jaccard 0 (or null when a doc's whole shingle set is
    hot) and fall to the >= min_jaccard filter.

    The self-join runs on the uncapped universe, so a shingle shared by
    m documents still emits m² join rows: the cap changes the capped
    jaccard, not the cost.

    Shuffle discipline (guide §2.2, r12): the m²-row self-join carries
    ONLY (id, s) plus a 1-bit in-cap flag — the per-doc sizes n / n_c
    are functionally dependent on the doc id, so they join back onto
    the far-smaller aggregated PAIR set instead of riding through every
    join row (the first fusion draft shuffled n, n_c and the raw __f
    long per row: 72.5 MiB vs 18.5 MiB for the two-pass form at sf0.1).

    Returns (part 'uncapped'|'capped', id_a, id_b, jaccard).
    """
    sh = _ngram_rows(df, id_col, text_col, shingle_k)
    # fill the cache BEFORE the consumers fan out: the broadcast-build
    # jobs below launch concurrently, and concurrent first readers of a
    # lazy cache each recompute the partition (measured: six identical
    # shingle-explode stages, one per broadcast build, at sf0.1)
    sh.count()
    # counts feeds pair_shingles AND the size-correction chain, each a
    # separate broadcast-build job — cached so the groupBy exchange
    # runs once, not once per build (measured: 4 × 3.7 MiB at sf0.1)
    counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__f")).persist()
    # per-doc sizes, materialized eagerly so the two per-side joins
    # below don't each recompute the chain (this serial job also fills
    # the counts cache before the concurrent broadcast builds race it)
    sizes = (
        sh.groupBy("id")
        .agg(F.max("n").alias("n"))
        .join(_hot_drops(sh, counts, max_shingle_freq), "id", "left")
        .select(
            "id", "n",
            (F.col("n") - F.coalesce(F.col("__n_drop"), F.lit(0))).alias("n_c"),
        )
    )
    sizes = sizes.localCheckpoint(eager=True)
    pair_shingles = counts.filter(F.col("__f") >= 2).select(
        "s", (F.col("__f") <= max_shingle_freq).alias("__in_cap")
    )
    pairs = _bucket_pairs(
        sh.join(pair_shingles, "s").select("id", "s", "__in_cap"),
        ["s"],
        agg=[
            F.count(F.lit(1)).alias("inter"),
            F.count(F.when(F.col("__in_cap"), 1)).alias("inter_c"),
        ],
    )
    inter = pairs.join(
        sizes.select(
            F.col("id").alias("id_a"), F.col("n").alias("n_a"),
            F.col("n_c").alias("n_ca"),
        ),
        "id_a",
    ).join(
        sizes.select(
            F.col("id").alias("id_b"), F.col("n").alias("n_b"),
            F.col("n_c").alias("n_cb"),
        ),
        "id_b",
    )
    # materialize the joined pair set ONCE: the un/cap union branches
    # are otherwise two full copies of the pairs-aggregate subtree and
    # the m²-join exchange executes per branch (measured: 2 × ~9 MiB
    # shuffle writes for one logical aggregation at sf0.1)
    inter = inter.localCheckpoint(eager=True)
    un = inter.select(
        F.lit("uncapped").alias("part"), "id_a", "id_b",
        _count_jaccard("inter", "n_a", "n_b").alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)
    cap = inter.filter(F.col("inter_c") > 0).select(
        F.lit("capped").alias("part"), "id_a", "id_b",
        _count_jaccard("inter_c", "n_ca", "n_cb").alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)
    # both branches are cheap projections over the checkpointed pair
    # set, safe to recompute after unpersist
    counts.unpersist()
    sh.unpersist()
    return un.unionByName(cap)

# --- SimHash ----------------------------------------------------------------

#: corpus size above which the 64-bit signature's 16-bit pigeonhole
#: chunks saturate: E[random-collision candidates] ≈ 4·n²/2^17, which
#: crosses ~3e7 pairs at 1 M docs and reached 7.6e8 at 5 M (the sf100
#: sweep filled the disk with that shuffle).  `simhash_pairs` with the
#: default width="auto" switches to the 128-bit variant beyond this.
SIMHASH_W64_MAX_DOCS = 1_000_000

def _hamming_pairs(
    sigs: DataFrame, words: list[str], chunks: list[Column], max_hamming: int
) -> DataFrame:
    """(id_a, id_b, hamming) of signatures (id, *words) that share a
    pigeonhole chunk — `chunks` are struct(blk, chunk) Columns over the
    words — kept at exact hamming distance <= max_hamming."""
    keys = sigs.select("id", *words, F.explode(F.array(*chunks)).alias("c")).select(
        "id", *words, F.col("c.blk").alias("blk"), F.col("c.chunk").alias("chunk")
    )
    cand = _bucket_pairs(keys, ["blk", "chunk"], carry=tuple(words))
    ham = sum(
        (F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b"))) for w in words),
        start=F.lit(0),
    )
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )

def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    sigs: DataFrame | None = None,
    width: int | str = "auto",
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash with block-based candidates: the
    signature splits into `blocks` equal chunks (blocks/2 per half); by
    pigeonhole any pair within max_hamming (< blocks) shares a chunk, so
    the bucket key is (block_idx, chunk) — never all pairs.

    Fewer blocks → wider chunks → a larger key space and far fewer
    bucket collisions: at 50k docs, 4×16-bit chunks generate ~40× fewer
    candidate pairs than 8×8-bit (65536 vs 256 values per block) with
    identical recall, so the default is the minimum blocks the pigeonhole
    bound allows for max_hamming=3.

    The 64-bit signature is the (w0, w1) half of `simhash128_sigs_kernel`
    (md5 hex chars [0:16) of each token), taken as (hi, lo).  Pass `sigs`
    (columns id, w0..w3, or id, hi, lo — e.g. a persisted signature
    table) to skip the hashing pass; signatures are the natural artifact
    a real pipeline persists anyway.

    `width` guards the scale boundary: the 16-bit chunk key space
    saturates once n ≫ 2^16 (E[random candidates] ≈ 4·n²/2^17 — a
    disk-filling shuffle at 5 M docs, found by the sf100 sweep).  The
    default "auto" counts the corpus (parquet footers make that cheap)
    and dispatches to the 128-bit `simhash128_pairs` above
    `SIMHASH_W64_MAX_DOCS`; pass 64 or 128 to pin a width explicitly
    (64 is the small-corpus default).

    Returns (id_a, id_b, hamming <= max_hamming).
    """
    if width == "auto":
        n = (sigs if sigs is not None else df).count()
        width = 64 if n <= SIMHASH_W64_MAX_DOCS else 128
    if width == 128:
        if sigs is not None and "w0" not in sigs.columns:
            raise ValueError(
                "width=128 needs w0..w3 signatures (simhash128_sigs_kernel); "
                "got a 64-bit (hi, lo) table — recompute, the 64-bit "
                "signature cannot be widened"
            )
        return simhash128_pairs(df, id_col, text_col, max_hamming, sigs=sigs)
    if width != 64:
        raise ValueError(f"width must be 'auto', 64 or 128: {width!r}")
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole needs max_hamming < blocks; got {max_hamming} >= {blocks}"
        )
    per_half = blocks // 2
    bits = 32 // per_half
    mask = (1 << bits) - 1
    if sigs is None:
        sigs = simhash128_sigs_kernel(df, id_col, text_col)
    if "hi" not in sigs.columns:
        sigs = sigs.select("id", F.col("w0").alias("hi"), F.col("w1").alias("lo"))
    chunks = [
        F.struct(
            F.lit(i + h * per_half).alias("blk"),
            F.shiftright(word, i * bits).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for i in range(per_half)
        for h, word in enumerate(("hi", "lo"))
    ]
    return _hamming_pairs(sigs, ["hi", "lo"], chunks, max_hamming)

def simhash128_sigs_kernel(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash signatures as four 32-bit words (w0..w3), computed per
    Arrow batch in vectorized numpy — the one signature kernel behind
    both `simhash_pairs` widths.  Per token the FULL md5 digest feeds
    the votes: hex chars [0:8) → w0 ... [24:32) → w3; each of a word's
    32 bits votes +1/−1 and the signature bit is set iff votes > 0.
    (w0, w1) is the 64-bit signature's (hi, lo).  hashlib md5 == Spark
    md5 on UTF-8; all four words are pinned against a hashlib
    reference by a unit test.  Returns (id, w0, w1, w2, w3)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    tok_re = re.compile(r"\s+")

    def run(batches):
        # token→words memo shared across the task's batches: corpora
        # follow Zipf, so the md5 of a common token is computed once per
        # task instead of once per occurrence (~10× fewer digest calls)
        memo: dict[str, tuple[int, int, int, int]] = {}

        def tok_hash(t: str):
            v = memo.get(t)
            if v is None:
                h = hashlib.md5(t.encode("utf-8")).hexdigest()
                v = tuple(int(h[i : i + 8], 16) for i in (0, 8, 16, 24))
                memo[t] = v
            return v

        shifts = np.arange(32)
        for pdf in batches:
            ids = []
            words: list[list[int]] = [[], [], [], []]
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in tok_re.split((text or "").strip().lower()) if t]
                ids.append(doc_id)
                if not toks:
                    for w in words:
                        w.append(0)
                    continue
                quads = np.array([tok_hash(t) for t in toks], dtype=np.int64)
                n = len(toks)
                for k in range(4):
                    counts = ((quads[:, k : k + 1] >> shifts) & 1).sum(axis=0)
                    words[k].append(
                        int(((2 * counts - n > 0).astype(np.int64) << shifts).sum())
                    )
            if len(memo) > 2_000_000:  # bound task memory on adversarial vocab
                memo.clear()
            yield pd.DataFrame(
                {
                    "id": np.array(ids, dtype=np.int64),
                    **{
                        f"w{k}": np.array(words[k], dtype=np.int64)
                        for k in range(4)
                    },
                }
            )

    # small inputs arrive as one parquet split → single-threaded hashing
    return spread_small_scan(df.select(id_col, text_col)).mapInPandas(
        run, "id long, w0 long, w1 long, w2 long, w3 long"
    )

def simhash128_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by 128-bit SimHash — the variant that stays
    bucketed at multi-million-document scale.

    The 64-bit `simhash_pairs` pigeonholes into 4×16-bit chunks, and a
    16-bit key space saturates once n ≫ 2^16: random-signature
    collisions alone give E[candidates] ≈ 4·n²/2^17 (≈7.6e8 pairs at
    5 M docs — the sf100 sweep filled the disk with that shuffle).
    Here each pigeonhole block is one full 32-bit word, so the
    random-collision term drops by 2^16: E ≈ 4·n²/2^33 ≈ 1e4 at 5 M
    docs.  Recall is identical (pigeonhole: hamming ≤ 3 over 4 blocks
    forces one equal block); precision gates on the exact 128-bit
    hamming distance computed from the four word XORs.

    `sigs` (columns id, w0..w3) skips the hashing pass, as in
    `simhash_pairs`.

    Returns (id_a, id_b, hamming <= max_hamming)."""
    if max_hamming >= 4:
        raise ValueError(
            f"pigeonhole over 4 word-blocks needs max_hamming < 4; got {max_hamming}"
        )
    if sigs is None:
        sigs = simhash128_sigs_kernel(df, id_col, text_col)
    words = [f"w{k}" for k in range(4)]
    chunks = [F.struct(F.lit(k).alias("blk"), F.col(w).alias("chunk")) for k, w in enumerate(words)]
    return _hamming_pairs(sigs, words, chunks, max_hamming)

# --- embedding near-dup -----------------------------------------------------

#: per-task cap on any cosine sims slab (bytes of float64).  A kernel
#: scoring an m×n block computes it in row chunks of
#: ``max(1, _SIMS_SLAB_BYTES // (n·8))`` — without this, a 50k×50k
#: block-pair is a 20 GB allocation and 32 concurrent tasks OOM the
#: node (found by the sf10 sweep; results are bit-identical, the dot
#: products are merely computed in chunks).
_SIMS_SLAB_BYTES = 128 * 1024 * 1024

def _slab_rows(n_cols: int, budget: int | None = None) -> int:
    """Rows per sub-matmul so the slab stays under `budget` bytes.
    Kernels capture the budget DRIVER-side at plan build (executors
    re-import this module, so a runtime module-var read would ignore
    any driver-side override)."""
    return max(1, (budget or _SIMS_SLAB_BYTES) // (max(1, n_cols) * 8))

def _round6_select(sims, min_cosine: float):
    """(ii, jj, rounded) of matrix entries whose SQL-ROUND-6 value is
    >= min_cosine — the shared post-matmul step of every cosine kernel.

    round6(x) >= t  ⟺  x >= (round(t·1e6) − 0.5)/1e6, so ONE full-array
    compare + nonzero selects the candidates (with 1e-9 slack for the
    float division) and the exact half-away round runs only on that
    small set.  The naive order — round the whole matrix, then mask —
    costs ~5 extra full-matrix passes, and the kernels are memory-
    bandwidth-bound: at sf1 it more than tripled wall time."""
    import numpy as np

    loose = (round(min_cosine * 1e6) - 0.5) / 1e6 - 1e-9
    ii, jj = np.nonzero(sims >= loose)
    s = np.floor(sims[ii, jj] * 1e6 + 0.5) / 1e6
    keep = s >= min_cosine
    return ii[keep], jj[keep], s[keep]

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    strategy: str = "auto",
    broadcast_threshold: int = 200_000,
    block_rows: int = 50_000,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, cos >= min_cosine).

    Two exact plans behind one front door:
      - "broadcast" (small corpus): collect+broadcast the normalized
        matrix; each Arrow batch does one BLAS matmul against it.
      - "blocked" (scale path): never touches the driver — rows hash
        into B blocks, fan out to their canonical block-pairs, and a
        grouped applyInPandas runs the same BLAS kernel per pair of
        blocks.  Exact by construction (every id pair lands in exactly
        one group), unlike LSH bucketing which can miss straddlers.

    "auto" counts the corpus (parquet footers make this cheap) and picks
    broadcast under `broadcast_threshold` rows.  At 100 TB the blocked
    path's per-task memory is 2·block_rows vectors plus ONE bounded
    sims slab (`_SIMS_SLAB_BYTES`, the matmul runs in row chunks — a
    full block-pair sims matrix would be block_rows² doubles, 20 GB at
    the default, and concurrent tasks would OOM the executor); the
    fan-out duplication factor is B = ceil(n / block_rows); the O(n²/2)
    dot products are inherent to the exact operator.

    The ANN scale swap is RUNNABLE (r10):
    `similarity.ann_candidate_pairs(df, adaptive_centroid_ids(n), …)`
    replaces the O(n²) scoring with IVF multi-probe candidates + the
    same exact round-6 verify — output ⊆ this operator's, recall pinned
    by tests/test_ann_swap.py, candidates ~linear·nprobe² when K grows
    with n.
    """
    if strategy not in ("auto", "broadcast", "blocked"):
        raise ValueError(f"unknown strategy: {strategy}")
    if strategy == "auto":
        n = df.count()
        strategy = "broadcast" if n <= broadcast_threshold else "blocked"
    if strategy == "blocked":
        return _embedding_neardup_blocked(
            df, id_col, vec_col, min_cosine, block_rows
        )
    return _embedding_neardup_broadcast(df, id_col, vec_col, min_cosine)

def _embedding_neardup_broadcast(
    df: DataFrame, id_col: str, vec_col: str, min_cosine: float
) -> DataFrame:
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    normed = mat / np.where(norms == 0, 1.0, norms)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(normed)
    slab_budget = _SIMS_SLAB_BYTES  # captured at plan build

    def run(batches):
        corpus_ids = b_ids.value
        corpus = b_mat.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            q = q / np.where(qn == 0, 1.0, qn)
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            # slab-bounded: an Arrow batch (≤10k rows) against a 200k
            # corpus is a 16 GB sims matrix if done in one matmul
            sub = _slab_rows(len(corpus), slab_budget)
            for lo in range(0, len(q), sub):
                sims = q[lo : lo + sub] @ corpus.T
                ii, jj, s = _round6_select(sims, min_cosine)
                keep = corpus_ids[jj] > qids[lo + ii]
                yield pd.DataFrame(
                    {
                        "id_a": qids[lo + ii[keep]],
                        "id_b": corpus_ids[jj[keep]],
                        "cosine": s[keep],
                    }
                )

    # small inputs arrive as one parquet split → the O(n²) kernel runs on
    # one core; spread the query side so every task scores a slice.  The
    # per-task sims matrix is (rows/P)×n — repartitioning also bounds it.
    return spread_small_scan(df.select(id_col, vec_col)).mapInPandas(
        run, "id_a long, id_b long, cosine double"
    )

def _embedding_neardup_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float,
    block_rows: int,
) -> DataFrame:
    """Exact all-pairs via block-pair fan-out — no driver collect.

    Rows hash into B blocks; each row is fanned to the B canonical block
    pairs it participates in, so group (i, j) holds exactly the rows of
    blocks i and j and every id pair is scored in exactly one group.
    Shuffle volume is B× the input (the price of exactness); per-task
    memory is ≤ 2·block_rows vectors; the kernel is the same one-matmul
    BLAS batch as the broadcast path, so results are identical.
    """
    import numpy as np
    import pandas as pd

    n = df.count()
    B = max(1, -(-n // block_rows))
    slab_budget = _SIMS_SLAB_BYTES  # captured at plan build
    tagged = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    fanned = tagged.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other"),
    ).select(
        "id",
        "v",
        "blk",
        F.least("blk", "other").alias("ba"),
        F.greatest("blk", "other").alias("bb"),
    )

    def kernel(key, pdf):
        ba, bb = int(key[0]), int(key[1])

        def prep(part):
            ids = part["id"].to_numpy(dtype=np.int64)
            m = np.array(list(part["v"]), dtype=np.float64)
            if len(ids) == 0:
                return ids, m.reshape(0, 0)
            nn = np.linalg.norm(m, axis=1, keepdims=True)
            return ids, m / np.where(nn == 0, 1.0, nn)

        if ba == bb:
            ia, va = prep(pdf)
            ib, vb = ia, va
        else:
            ia, va = prep(pdf[pdf["blk"] == ba])
            ib, vb = prep(pdf[pdf["blk"] == bb])
        if len(ia) == 0 or len(ib) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
            )
        # slab-bounded matmul: a full block-pair sims matrix is
        # block_rows² doubles (20 GB at the 50k default) — see
        # _SIMS_SLAB_BYTES
        sub = _slab_rows(len(ib), slab_budget)
        outs = []
        for lo in range(0, len(ia), sub):
            sims = va[lo : lo + sub] @ vb.T
            ii, jj, s = _round6_select(sims, min_cosine)
            ii = ii + lo
            if ba == bb:
                keep = ib[jj] > ia[ii]  # one direction, no diagonal
                ii, jj, s = ii[keep], jj[keep], s[keep]
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia[ii], ib[jj]),
                        "id_b": np.maximum(ia[ii], ib[jj]),
                        "cosine": s,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return fanned.groupBy("ba", "bb").applyInPandas(
        kernel, "id_a long, id_b long, cosine double"
    )

# --- cross-document line dedup (C4-style) -----------------------------------

def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Remove lines duplicated ACROSS the corpus, keeping the first
    occurrence (C4, Raffel et al. 2020 §2.2 — their span dedup applied
    at line granularity).

    A line is removed when its trimmed form occurs >= `min_count` times
    corpus-wide and this occurrence is not the first (ordered by
    (id, line position)).  Blank lines are never dedup candidates.

    Returns one row per document: id, `text_clean`, `n_removed`.

    Scale design — skew-proof AND text-light by construction:

    * The natural plan (a window over line-hash) would funnel EVERY
      occurrence of a hot boilerplate line ("(c) 2024 ...", cookie
      banners) through one sort task.  Instead first-occurrence and
      count come from a plain groupBy(line_hash) — map-side partial
      aggregation collapses each hash to ONE row per map task before
      the shuffle, so a line occurring 10^9 times moves ~n_tasks rows.
    * No shuffle ever carries line or document TEXT.  The exploded
      side is projected to (id, pos, hash64) before any exchange, the
      drop decisions travel as (id, pos) int pairs, and the cleaned
      document is rebuilt NARROWLY from the original `df` row with an
      indexed `filter` over `split(text)` — at 100 TB the shuffled
      bytes are O(lines × 20 B), not O(corpus text), and the only
      wide op touching full documents is the final id-keyed join
      against the (much smaller, AQE-broadcastable) drop-position
      sets.
    * `occ` is explicitly hash-partitioned on the line key so ONE
      narrow shuffle serves both the first-occurrence aggregate and
      the occurrence-vs-firsts join (no further exchange when AQE
      keeps the join shuffled; `firsts` holds only duplicated lines,
      so at moderate dup rates AQE broadcasts it instead).  The trade
      accepted here: because the exchange precedes the groupBy, all
      occurrences of a hot boilerplate line land in one partition —
      but each row is ~28 B of ints, so even a line occurring 10^9
      times is a ~28 GB partition-local aggregate input at the
      pathological extreme and AQE's skew handling splits the join
      side; the alternative (map-side combine + a second shuffle for
      the join) doubles the exchange count for the common case.  (An
      eager localCheckpoint of `occ` was measured and rejected: it
      halves the exploded-side work but serializes the whole pipeline
      behind the materialization barrier — slower on wall-clock at
      every tested sf.)
    * The line key is a 128-bit pair of xxhash64 values (the line
      under Spark's default seed, and the line under a second seed
      derived from a leading salt — salt FIRST, because multi-arg
      xxhash64 chains left-to-right and a trailing salt would be a
      pure function of the first hash) rather than a 32-B md5 hex —
      the key IS most of the shuffled row, and hex strings double it.  64 bits alone is NOT enough at design scale: at
      10^11-10^12 corpus lines the birthday bound expects thousands
      of colliding line pairs, each silently merging two distinct
      lines (their combined count passes min_count and every
      non-keeper occurrence of both is dropped).  At 128 bits the
      expected collision count at 10^12 lines is ~1e-15 — negligible
      by construction, for +8 B/row.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    norm = F.trim(F.col("line"))
    # occurrence table — the line string exists only inside this narrow
    # stage; it is hashed and projected away before any shuffle
    occ = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(text, r"\n")).alias("pos", "line"),
        )
        .select(
            id_col,
            "pos",
            F.when(norm != "", F.xxhash64(norm)).otherwise(F.lit(None)).alias("lh"),
            # second 64-bit hash under a DIFFERENT effective seed ->
            # 128-bit key pair.  The salt must come FIRST: Spark's
            # multi-arg xxhash64 folds left-to-right with the running
            # hash as the next seed, so xxhash64(line, salt) would be
            # a pure function of xxhash64(line) (lh collisions would
            # propagate, adding zero entropy); xxhash64(salt, line)
            # hashes the line under seed XXH64(salt, 42) instead.
            F.when(norm != "", F.xxhash64(F.lit("hzs2"), norm))
            .otherwise(F.lit(None))
            .alias("lh2"),
        )
        .filter(F.col("lh").isNotNull())
        .repartition(F.col("lh"), F.col("lh2"))
    )
    firsts = (
        occ.groupBy("lh", "lh2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(id_col, "pos")).alias("first"),
        )
        .filter(F.col("c") >= min_count)
        .select("lh", "lh2", "first")
    )
    drop_sets = (
        occ.join(firsts, on=["lh", "lh2"])
        .filter(
            ~(
                (F.col("first")[id_col] == F.col(id_col))
                & (F.col("first")["pos"] == F.col("pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("drop_pos"))
    )
    # rebuild from the ORIGINAL document row (narrow, per-row); docs
    # with no drops (incl. NULL text) pass through the left join intact
    dp = F.coalesce(F.col("drop_pos"), F.array().cast("array<int>"))
    return df.join(drop_sets, on=id_col, how="left").select(
        id_col,
        F.concat_ws(
            "\n",
            F.filter(
                F.split(text, r"\n"),
                lambda x, i: ~F.array_contains(dp, i.cast("int")),
            ),
        ).alias("text_clean"),
        F.size(dp).cast("long").alias("n_removed"),
    )

# --- duplicate-cluster connected components ---------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: every pair
    generator in this module (MinHash-LSH, SimHash, n-gram Jaccard,
    embedding near-dup) emits EDGES, but a dedup pipeline needs GROUPS —
    "these 14 documents are all one cluster; keep one".  Pairs are not
    transitively closed (A~B and B~C without A~C), so grouping is graph
    connectivity, not a groupBy.

    Returns (node_id, component_id) for every node appearing in a pair,
    with component_id = the minimum node id in the component (the
    canonical keep-id, matching the keep-smallest-id convention of
    `exact_dup_groups`).

    Algorithm: iterative min-label propagation with pointer-jumping
    shortcuts — the DataFrame rendering of the map-reduce CC family
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14; simplified: dup graphs are many tiny cliques/chains, so
    the adversarial large-star/small-star machinery is unnecessary).
    Each round:

      1. propagate: every node takes min(own label, neighbors' labels)
         — one join edges⋈labels (shuffle keyed by node id) + one
         groupBy(node) min, which partial-aggregates map-side, so a
         hot node (a boilerplate doc paired with millions) collapses
         per-task before the shuffle;
      2. shortcut: label(v) ← label(label(v)) — one self-join, turning
         O(diameter) convergence into O(log diameter);
      3. converge: labels only ever decrease, so Σlabels is strictly
         monotone and equality between rounds IS convergence — one
         scalar agg per round instead of a change-detection join.
         Sums are taken in decimal(38,0): at 10^12 nodes with 64-bit
         ids the long sum would overflow.

    Per-round localCheckpoint truncates the lineage (an iterative plan
    otherwise doubles per round and chokes the optimizer ~iter 8).
    Driver holds only one scalar per round; edges/labels never collect.
    """
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    edges = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("id"), F.least("src", "m").alias("lbl"))
        .localCheckpoint(eager=True)
    )

    def _sum(df: DataFrame) -> object:
        return df.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]

    prev = _sum(labels)
    converged = False
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "lbl")
        prop = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jumping: lbl is itself a node id, so chase one hop
        shortcut = (
            prop.alias("p")
            .join(
                prop.select(
                    F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
                ).alias("t"),
                "lbl",
                "left",
            )
            .select("id", F.least(F.coalesce("lbl2", "lbl"), F.col("lbl")).alias("lbl"))
        )
        # lazy checkpoint: the convergence sum is the materializing
        # action, so each round costs ONE job instead of two
        superseded, labels = labels, shortcut.localCheckpoint(eager=False)
        cur = _sum(labels)
        release_cut(superseded)
        if cur == prev:
            converged = True
            break
        prev = cur
    release_cut(edges)
    if not converged:
        release_cut(labels)
        # Partially-converged labels are silently WRONG (component_id
        # would not be the component minimum) — fail loudly instead.
        # With pointer jumping, rounds ~ log2(diameter): 25 covers any
        # graph a dedup pipeline can produce; hitting it means the
        # caller should raise max_iter, not trust the output.
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds (label sum still changing); raise "
            f"max_iter — partially-converged labels are not returned"
        )
    return labels.select(
        F.col("id").alias("node_id"), F.col("lbl").alias("component_id")
    )
