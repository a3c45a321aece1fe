"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin on the same
parquet dir, compares row count, column names, and order-insensitive
values (exact for ints/strings, exact-after-round for floats).

``--digest`` switches to a chunk-streamed comparison for results too
large to canonicalize as one pandas frame (the sf100 5 M-row full-text
results): both sides stream Arrow batches — Spark via a temp parquet
spill, DuckDB via ``fetch_record_batch`` in a fresh subprocess
(retried in 8 hash-shards if the whole-result run dies; the fold is
commutative so the digest is shard-invariant) — folding each row into a
commutative 64-bit digest (sum over rows of a column-ordered mixed
``hash_pandas_object``), so driver memory stays one batch regardless of
result size.  Order-insensitive by construction; values compare exactly
(both engines' rows pass through the same arrow→pandas conversion and
the same hash, so a digest match means per-row value equality up to
64-bit collisions — weaker than the full sort-merge compare, ample for
a verification harness).

Usage: python tests/oracle_check.py [--digest] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# the subprocess programs below import the engine and this module from
# the same checkout as this file
_PATHS = f"import sys\nsys.path[:0] = [{ROOT!r}, {HERE!r}]\n"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

def duck_con(sf_dir: str):
    con = duckdb.connect()
    # large-sf sweeps: let DuckDB spill instead of OOM-ing on 5M-row
    # full-text intermediates, and don't pay for result ordering the
    # order-insensitive comparison never reads
    con.execute("SET temp_directory='/tmp/duckdb_oracle_spill'")
    # long queries draw a progress bar on stdout — it corrupts the
    # digest subprocess's JSON hand-off to the parent
    con.execute("SET enable_progress_bar=false")
    # counter-intuitively, preserve_insertion_order=false makes the
    # 5M-doc dedup_lines oracle OOM (reproducible: the unordered plan
    # picks non-spillable operator variants) while the ordered plan
    # streams in 96s — so unordered execution is opt-in per run
    if os.environ.get("DUCKDB_UNORDERED"):
        con.execute("SET preserve_insertion_order=false")
    # big-sf text oracles: peak memory scales with threads (per-thread
    # hash/aggregate state over 5M-row full-text intermediates); the
    # default 32 threads can exhaust the allocator where 16 fit.
    # Override per-run without code changes.
    threads = os.environ.get("DUCKDB_THREADS")
    if threads:
        con.execute(f"SET threads={int(threads)}")
    mem = os.environ.get("DUCKDB_MEMORY_LIMIT")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount: spark={len(sdf)} oracle={len(odf)}")
    # dtype-family mismatches (int vs float) would change the driver's
    # value hashes even when numerically equal — flag them
    for c in sorted(sdf.columns):
        skind = sdf[c].dtype.kind if hasattr(sdf[c].dtype, "kind") else "O"
        okind = odf[c].dtype.kind if hasattr(odf[c].dtype, "kind") else "O"
        if {skind, okind} == {"i", "f"}:
            problems.append(f"dtype family: col {c} spark={sdf[c].dtype} oracle={odf[c].dtype}")
    s, o = canon(sdf), canon(odf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            if str(sv.dtype).startswith("float") or str(ov.dtype).startswith("float"):
                import numpy as np

                bad = ~(
                    (sv.isna() & ov.isna())
                    | (np.isclose(sv.astype(float), ov.astype(float), rtol=0, atol=0, equal_nan=True))
                )
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                        f"spark={sv[i]!r} oracle={ov[i]!r}"
                    )
            else:
                if not sv.astype(str).equals(ov.astype(str)):
                    bad = sv.astype(str) != ov.astype(str)
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                        f"spark={sv[i]!r} oracle={ov[i]!r}"
                    )
    return problems

def _exact_pandas(batch):
    """arrow→pandas with integer columns mapped to pandas nullable
    Int64 and booleans to nullable boolean: the default conversion is
    chunk-variant for both (a null-carrying int64 chunk becomes
    float64 — lossy at |v| >= 2^53 — while a null-free chunk stays
    int64; a null-carrying bool chunk becomes object, hashing
    'True'/'False' strings, while a null-free chunk stays bool and
    hashes 1.0/0.0).  Both digest producers (the Spark parquet-spill
    reader and the DuckDB record-batch reader) MUST convert through
    this so the exact value+mask hash path in `_digest_chunks` sees
    one canonical form regardless of null placement across chunks."""
    import pandas as _pd
    import pyarrow.types as _pt

    def _mapper(t):
        if _pt.is_integer(t):
            return _pd.Int64Dtype()
        if _pt.is_boolean(t):
            return _pd.BooleanDtype()
        return None

    return batch.to_pandas(types_mapper=_mapper)

def _digest_chunks(chunks) -> tuple[int, list[str] | None, dict[str, str], int]:
    """Fold a stream of pandas chunks into (rows, sorted cols, dtype
    kinds, commutative digest).  Per row: columns in sorted-name order
    are mixed positionally (h = h*1000003 + hash(col)); the row hashes
    sum mod 2^64, so chunk/partition order is irrelevant."""
    import numpy as np


    total_rows = 0
    cols: list[str] | None = None
    kinds: dict[str, str] = {}
    digest = 0
    for pdf in chunks:
        if cols is None:
            cols = sorted(pdf.columns)
        if not len(pdf):
            continue
        total_rows += len(pdf)
        h = np.zeros(len(pdf), dtype=np.uint64)
        for c in cols:
            s = pdf[c]
            k = s.dtype.kind if hasattr(s.dtype, "kind") else "O"
            if k in "iub":
                # bools ride the exact int path too (True→1, False→0,
                # null→mask) — producers canonicalize them to nullable
                # BooleanDtype in `_exact_pandas`, so null placement
                # across chunks can't flip them onto the float or
                # string path
                # EXACT integer path (the 2^53 guard used to reject
                # what float64 canonicalization would hash lossily —
                # sf100 a_rollups sums crossed it honestly): every int
                # chunk canonicalizes to nullable Int64 (producers
                # convert through `_exact_pandas`, so null-carrying
                # chunks arrive Int64 too, never float64) and hashes
                # as raw int64 values + a separate null mask — exact
                # at any magnitude, chunk-invariant by construction.
                kinds.setdefault(c, "i")
                s = s.astype("Int64")
                mask = s.isna()
                hv = (
                    pd.util.hash_pandas_object(
                        s.fillna(0).astype("int64"), index=False
                    ).to_numpy().astype(np.uint64)
                )
                hm = (
                    pd.util.hash_pandas_object(
                        mask.astype("int8"), index=False
                    ).to_numpy().astype(np.uint64)
                )
                h = h * np.uint64(1_000_003) + hv
                h = h * np.uint64(1_000_003) + hm
                continue
            if k == "f":
                # floats hash as the float64 both engines computed.
                # The dtype FAMILY still comes from the arrow-reported
                # kind so int-vs-float drift is flagged, not hashed.
                kinds.setdefault(c, "f")
                s = s.astype("float64")
            else:
                kinds.setdefault(c, "O")
                # astype(str) renders None as the 4-char string
                # 'None' — indistinguishable from a genuine 'None'
                # value, a false-PASS hole.  Mark nulls out-of-band.
                mask = s.isna()
                s = s.astype(str)
                if mask.any():
                    s = s.where(~mask, "\x00<null>")
            hv = pd.util.hash_pandas_object(s, index=False).to_numpy().astype(np.uint64)
            h = h * np.uint64(1_000_003) + hv
        digest = (digest + int(h.sum(dtype=np.uint64))) % (1 << 64)
    return total_rows, cols, kinds, digest

def _arrow_kinds(schema) -> dict[str, str]:
    """Column → dtype-family kind from an ARROW schema — chunk-local
    pandas kinds are unstable (an all-null-free chunk of a nullable
    int64 column reads back 'i', a chunk with nulls 'f')."""
    import pyarrow.types as pt

    out = {}
    for field in schema:
        t = field.type
        if pt.is_integer(t) or pt.is_boolean(t):
            out[field.name] = "i"
        elif pt.is_floating(t) or pt.is_decimal(t):
            out[field.name] = "f"
        else:
            out[field.name] = "O"
    return out

_DUCK_DIGEST_PROG = _PATHS + """
import json, os, sys
from oracle_check import duck_con, _digest_chunks, _arrow_kinds, _exact_pandas
sf_dir, sql_path = sys.argv[1], sys.argv[2]
shards, shard_idx = int(sys.argv[3]), int(sys.argv[4])
# sf100-robust defaults (env still overrides): 32 threads double the
# per-thread agg state vs 16 and tip the 100M-line full-text oracles
# over; an explicit memory_limit from MemAvailable (the Spark JVM is
# still resident in the parent) keeps the buffer manager inside what
# the machine can actually give this process.  Shard runs get the
# 40 GB cap the sharded config was proven under.
os.environ.setdefault("DUCKDB_THREADS", "16")
if not os.environ.get("DUCKDB_MEMORY_LIMIT"):
    avail_kb = 64 << 20
    for ln in open("/proc/meminfo"):
        if ln.startswith("MemAvailable:"):
            avail_kb = int(ln.split()[1])
            break
    gb = int(avail_kb * 0.7) >> 20
    if shards > 1:
        gb = min(gb, 40)
    os.environ["DUCKDB_MEMORY_LIMIT"] = f"{gb}GB"
con = duck_con(sf_dir)
sql = open(sql_path).read()
shard_input = os.environ.get("DUCKDB_SHARD_INPUT")  # "table:key_col"
if shards > 1 and shard_input:
    # INPUT sharding (opt-in): re-create the named table's view filtered
    # to hash(key) % K BEFORE the query runs, so each shard scans and
    # aggregates 1/K of the DATA, not just 1/K of the result.  Output
    # sharding (below) cannot push its hash predicate through a
    # per-row pipeline over a huge fact table, so every shard repays
    # the full intermediate spill — doc_quality at sf100 spilled ~44 GB
    # PER SHARD and died on disk.  Valid only when the query emits
    # exactly one row-group per input key row (row-per-doc queries
    # keyed by the shard key): the shard union then covers every
    # result row exactly once and the commutative digest fold is
    # unchanged — same partition the output filter would have made.
    tbl, key = shard_input.split(":")
    con.execute(
        f'CREATE OR REPLACE VIEW "{tbl}" AS SELECT * FROM '
        f"read_parquet('{sf_dir}/{tbl}.parquet') "
        f'WHERE COALESCE(hash("{key}"), 0) % {shards} = {shard_idx}'
    )
elif shards > 1:
    # hash-partition the RESULT by its first column: this run holds
    # 1/K of the final aggregate/sort state, and a predicate on an
    # output column pushes through trailing group-bys/joins on it.
    # COALESCE: hash(NULL) % K is NULL and would silently drop rows.
    first_col = con.execute(f"DESCRIBE ({sql})").fetchone()[0]
    sql = (
        f'SELECT * FROM ({sql}) __t '
        f'WHERE COALESCE(hash(__t."{first_col}"), 0) % {shards} = {shard_idx}'
    )
reader = con.execute(sql).fetch_record_batch(65_536)
kinds = _arrow_kinds(reader.schema)
rows, cols, _, digest = _digest_chunks(_exact_pandas(b) for b in reader)
if cols is None:
    # empty result stream yields no chunks; the column list still
    # exists in the reader schema — without this an EMPTY oracle
    # result false-FAILs the column comparison against a Spark side
    # whose parquet spill always knows its schema
    cols = sorted(f.name for f in reader.schema)
print(json.dumps({"rows": rows, "cols": cols, "kinds": kinds, "digest": digest}))
"""

_DUCK_COUNT_PROG = _PATHS + """
import json, os, sys
from oracle_check import duck_con
sf_dir, sql_path = sys.argv[1], sys.argv[2]
os.environ.setdefault("DUCKDB_THREADS", "16")
os.environ.setdefault("DUCKDB_MEMORY_LIMIT", "40GB")
con = duck_con(sf_dir)
sql = open(sql_path).read()
n = con.execute(f'SELECT COUNT(*) FROM ({sql}) __t').fetchone()[0]
print(json.dumps({"count": int(n)}))
"""

def _duck_unsharded_count(sf_dir: str, sql: str) -> int:
    """COUNT(*) of the UNSHARDED oracle query in a fresh process.
    Guards the INPUT-sharding foot-gun: ``DUCKDB_SHARD_INPUT`` is only
    valid for queries whose output decomposes row-for-row by the shard
    key; a misapplied key makes each shard answer a different (partial)
    query, and since the digest fold is commutative the K partial
    digests would silently sum into a "verified" total.  The total
    count of the sharded union, however, then disagrees with the real
    query's count (K partial aggregates ≠ 1 global one), so one cheap
    unsharded COUNT(*) — which drops the giant result materialization
    that forces sharding in the first place — catches the misuse."""
    import json as _json
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".sql", delete=False) as f:
        f.write(sql)
        sql_path = f.name
    try:
        out = subprocess.run(
            [sys.executable, "-c", _DUCK_COUNT_PROG, sf_dir, sql_path],
            capture_output=True, text=True, check=True,
        )
    except subprocess.CalledProcessError as ex:
        raise RuntimeError(
            "input-shard guard: unsharded COUNT(*) subprocess failed: "
            f"{(ex.stderr or '').strip()[-500:]}"
        )
    finally:
        os.unlink(sql_path)
    line = [l for l in out.stdout.splitlines() if "{" in l][-1]
    return _json.loads(line[line.index("{"):])["count"]

def _duck_digest_subprocess(
    sf_dir: str, sql: str, shards: int = 1
) -> tuple[int, list, dict, int]:
    """Digest the oracle side in a FRESH python process: the harness
    process hosts the Spark JVM and has just hashed millions of pandas
    rows, and DuckDB's allocator reproducibly fails ("Failed to
    allocate block") inside that heap even with >100 GB free — a clean
    process runs the same query in 96 s.  Also guarantees the two
    memory-heavy phases never overlap.

    ``shards`` > 1 hash-partitions the result by its first column and
    digests each shard in its OWN fresh process (the row-hash fold is
    commutative, so the digest is shard-invariant).  DuckDB 1.0's
    ordered string_agg / final join state is not spillable and its
    allocator corrupts under repeated giant text pipelines in one
    process: the sf100 5 M-doc full-text results die run whole (any
    formulation — COPY TO, streamed, 8-64 threads, 40-100 GB limits
    all reproduce OOM or a libc segfault) and die run 8-shards in one
    connection, but one shard per clean process at a 40 GB cap runs in
    ~52 s reliably — the only empirically stable configuration, so it
    is exactly what this executes."""
    import json as _json
    import subprocess
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".sql", delete=False) as f:
        f.write(sql)
        sql_path = f.name
    # the crashes are FLAKY (an identical shard run can pass minutes
    # later — jemalloc VA growth racing query progress), so each shard
    # gets attempts on a tightening ladder; sharded runs only retry
    # the shard that died, not the whole set
    env_rung = (os.environ.get("DUCKDB_MEMORY_LIMIT"), os.environ.get("DUCKDB_THREADS"))
    if shards == 1:
        ladder = [env_rung]
    else:
        ladder = [("40GB", "16"), ("28GB", "8"), ("20GB", "8")]
        if any(env_rung):
            ladder[0] = env_rung  # explicit env wins the first attempt
    rows, cols, kinds, digest = 0, None, None, 0
    try:
        for i in range(shards):
            last_err: Exception | None = None
            for mem, thr in ladder:
                env = dict(os.environ)
                if mem:
                    env["DUCKDB_MEMORY_LIMIT"] = mem
                if thr:
                    env["DUCKDB_THREADS"] = thr
                try:
                    out = subprocess.run(
                        [sys.executable, "-c", _DUCK_DIGEST_PROG,
                         sf_dir, sql_path, str(shards), str(i)],
                        capture_output=True, text=True, check=True, env=env,
                    )
                    last_err = None
                    break
                except subprocess.CalledProcessError as ex:
                    last_err = RuntimeError(
                        f"oracle digest subprocess failed (shard {i}/{shards}, "
                        f"mem={mem}, threads={thr}): "
                        f"{(ex.stderr or '').strip()[-500:]}"
                    )
            if last_err is not None:
                raise last_err
            # belt-and-braces vs stray stdout (progress-bar fragments):
            # the JSON object is the last line holding a '{', sliced
            # from its first '{' (rfind would land inside `kinds`)
            line = [l for l in out.stdout.splitlines() if "{" in l][-1]
            r = _json.loads(line[line.index("{"):])
            rows += r["rows"]
            if r["cols"] is not None:
                cols, kinds = r["cols"], r["kinds"]
            digest = (digest + r["digest"]) % (1 << 64)
        if shards > 1 and os.environ.get("DUCKDB_SHARD_INPUT"):
            expected = _duck_unsharded_count(sf_dir, sql)
            if expected != rows:
                raise RuntimeError(
                    f"input-shard guard: sharded union has {rows} rows but the "
                    f"unsharded query has {expected} — DUCKDB_SHARD_INPUT="
                    f"{os.environ['DUCKDB_SHARD_INPUT']!r} does not decompose "
                    "this query's output by the shard key (each shard answered "
                    "a different partial query); unset it or pick the key the "
                    "output is row-per-key in"
                )
        return rows, cols, kinds, digest
    finally:
        os.unlink(sql_path)

_SPARK_WRITE_PROG = _PATHS + """
import os, sys
name, sf_dir, out_dir = sys.argv[1], sys.argv[2], sys.argv[3]
os.environ.setdefault("SPARK_MAX_RESULT_SIZE", "8g")
from hogzilla_spark import get_spark
import __spark_entry__ as E
spark = get_spark(shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
E.queries()[name](spark, sf_dir).write.mode("overwrite").parquet(out_dir)
spark.stop()
"""

def digest_compare(name: str, sf_dir: str, sql: str) -> tuple[list[str], dict]:
    """Chunk-streamed twin of `compare`: spill the Spark result to a
    temp parquet dir, stream both sides batch-wise, compare the
    commutative digests.  BOTH engines run in fresh subprocesses — the
    Spark side so its JVM heap dies before DuckDB starts, the DuckDB
    side so it never allocates inside a pandas-bloated parent — and
    only one is ever alive at a time: at sf100 the two phases each
    want most of the machine, and DuckDB 1.0 answers a tight machine
    with segfaults and failed mallocs, not clean spilling.
    Returns (problems, stats)."""
    import shutil
    import subprocess
    import tempfile

    import pyarrow.dataset as ds

    tmp = tempfile.mkdtemp(prefix=f"oracle_digest_{name}_")
    try:
        r = subprocess.run(
            [sys.executable, "-c", _SPARK_WRITE_PROG, name, sf_dir, f"{tmp}/spark"],
            capture_output=True, text=True,
        )
        if r.returncode != 0:
            raise RuntimeError(
                f"spark digest subprocess failed: {(r.stderr or '').strip()[-500:]}"
            )
        dset = ds.dataset(f"{tmp}/spark", format="parquet")
        s_kinds = _arrow_kinds(dset.schema)

        def spark_chunks():
            for batch in dset.to_batches(batch_size=65_536):
                yield _exact_pandas(batch)

        s_rows, s_cols, _, s_digest = _digest_chunks(spark_chunks())
        if s_cols is None:  # empty result — schema still known (see duck twin)
            s_cols = sorted(dset.schema.names)
        try:
            o_rows, o_cols, o_kinds, o_digest = _duck_digest_subprocess(sf_dir, sql)
        except RuntimeError as ex:
            # whole-result run died (DuckDB 1.0 unspillable final agg /
            # sort state at sf100 sizes) — retry hash-sharded, which is
            # digest-equivalent and runs each part at 1/8 state
            print(f"  .. {name}: whole-result oracle run failed "
                  f"({str(ex)[-120:]}); retrying in 8 hash-shards")
            o_rows, o_cols, o_kinds, o_digest = _duck_digest_subprocess(
                sf_dir, sql, shards=8
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    problems = []
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems, {}
    for c in s_cols or []:
        if {s_kinds.get(c), o_kinds.get(c)} == {"i", "f"}:
            problems.append(f"dtype family: col {c} spark={s_kinds.get(c)} oracle={o_kinds.get(c)}")
    if s_rows != o_rows:
        problems.append(f"rowcount: spark={s_rows} oracle={o_rows}")
    elif not problems and s_digest != o_digest:
        problems.append(f"digest: spark={s_digest:#x} oracle={o_digest:#x}")
    stats = {"spark_rows": s_rows, "oracle_rows": o_rows, "digest": f"{s_digest:#x}"}
    return problems, stats

def main() -> int:
    argv = list(sys.argv[1:])
    digest_mode = "--digest" in argv
    if digest_mode:
        argv.remove("--digest")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    # oracle comparisons collect full result sets — opt in to the
    # relaxed driver cap the library deliberately doesn't default to
    os.environ.setdefault("SPARK_MAX_RESULT_SIZE", "8g")

    import __spark_entry__ as E

    # digest mode keeps this parent process lean (no JVM, no query
    # results): both engines run in their own subprocesses and the
    # whole machine belongs to whichever phase is active
    if digest_mode:
        spark = con = None
    else:
        from hogzilla_spark import get_spark

        spark = get_spark(shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        con = duck_con(sf_dir)

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if digest_mode:
            if name not in oracles:
                print(f"SKIP {name}: no oracle")
                continue
            try:
                problems, stats = digest_compare(name, sf_dir, oracles[name])
            except Exception as ex:
                print(f"FAIL {name}: error: {ex}")
                failures += 1
                continue
            rows = stats.get("spark_rows", "?")
            if problems:
                failures += 1
                print(f"FAIL {name} ({rows} rows, {time.time()-t0:.1f}s)")
                for p in problems:
                    print(f"     {p}")
            else:
                print(
                    f"PASS {name} ({rows} rows, digest {stats['digest']}, "
                    f"{time.time()-t0:.1f}s)"
                )
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only, {len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    if spark is not None:
        spark.stop()
    return 1 if failures else 0

if __name__ == "__main__":
    raise SystemExit(main())
