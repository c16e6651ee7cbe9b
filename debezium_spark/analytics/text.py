"""Text-pipeline operators: stats, language ID, fingerprinting, dedup.

Design rules (these survive a 1000-executor / 100 TB scale-up):

* Everything per-document is a narrow projection — native expressions or
  an Arrow-batched kernel, never a row-at-a-time Python UDF — with no
  explode unless the algorithm is inherently set-based.
* MinHash signatures are one ``mapInArrow`` over the input's own partitions
  (one row per document, numpy over whole Arrow batches) instead of
  explode+groupBy — zero shuffles for signature computation.
* Near-dup candidate generation joins only within LSH band buckets
  (banding → band-key equi-join), never all-pairs, and exact Jaccard is
  computed for candidate pairs only.
* An input under the shared inline bound (``INLINE_MAX_ROWS``, the one the
  merge sinks and the pgoutput decoder use) comes to the driver in ONE
  Arrow collect and runs the same numpy kernels there, as
  ``near_dup_pairs`` does: no shuffle and no Python worker for a few
  thousand documents. A larger input, or one a kernel cannot take, keeps
  the distributed plan, and the route taken is counted.
* Hashes are md5-derived 60-bit ints so the DuckDB oracle can reproduce them
  exactly (Spark's `hash` is murmur3, DuckDB's is wyhash — not portable).
"""

from __future__ import annotations

import operator
from collections import Counter
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.inline import INLINE_MAX_ROWS, footer_rows_exceed

TOKEN_SPLIT_RE = r"\s+"

# Language-marker stopwords for the n-gram/stopword language-ID heuristic.
# Order = tie-break precedence.
LANG_MARKERS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "and", "of", "to", "is", "in", "that")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "zu")),
    ("fr", ("le", "la", "les", "et", "est", "une", "dans", "que")),
    ("es", ("el", "los", "las", "y", "es", "una", "en", "por")),
    ("zh", ("de", "shi", "bu", "le", "wo", "ni", "zai", "you")),
]


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition when the input arrives in fewer partitions than ``target``.

    A small parquet file scans as ONE partition, which serializes any
    CPU-heavy per-row stage (hashing, UDFs) on a single core. The shuffle
    this inserts is O(input) — worth it exactly when per-row compute
    dominates; at real scale inputs already arrive well-partitioned and
    this is a no-op.

    Python-worker stages (``mapInArrow``/``mapInPandas``/pandas UDFs) pay
    a fixed toll per TASK, however few rows it holds: PySpark's worker
    calls ``importlib.invalidate_caches()`` once per task
    (``pyspark/worker_util.py``), which on Python 3.11 re-reads the
    1328-entry directory of ``pyspark.zip`` once per cached zipimporter
    (~0.1 CPU-s per call, measured in a bare interpreter with 14 cached),
    plus the JVM side's per-task set-up. On a 4-core host an identity
    ``mapInArrow`` over 16k rows cost 4.0-4.4 CPU-s as 16 tasks against
    0.75-1.2 as one task: about 0.2 CPU-s per extra task. So a Python
    stage over a small input should run on the input's own partitions
    rather than be spread out here.
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def portable_hash64(col: Column, seed: str = "") -> Column:
    """60-bit positive hash reproducible in ANSI SQL.

    md5 → first 15 hex digits → base-10 bigint. DuckDB equivalent:
    ``('0x' || substr(md5(seed || x), 1, 15))::BIGINT``.
    """
    payload = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def oracle_hash64(expr: str, seed: str = "") -> str:
    """The DuckDB-side twin of :func:`portable_hash64`."""
    payload = f"'{seed}' || {expr}" if seed else expr
    return f"CAST(('0x' || substr(md5({payload}), 1, 15)) AS BIGINT)"


def normalize_text(col: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (dedup canonical form)."""
    return F.lower(F.regexp_replace(F.trim(col), TOKEN_SPLIT_RE, " "))


ORACLE_NORMALIZE = "lower(regexp_replace(trim({c}), '\\s+', ' ', 'g'))"


def tokenize(col: Column) -> Column:
    return F.split(F.trim(col), TOKEN_SPLIT_RE)


ORACLE_TOKENIZE = "regexp_split_to_array(trim({c}), '\\s+')"


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality statistics: char/token counts, punctuation and
    stopword ratios — the usual pre-training quality filters, all codegen'd.
    """
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks)
    sum_token_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    en_stop = LANG_MARKERS[0][1]
    n_stop = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(t.isin(*en_stop), 1).otherwise(0),
    )
    return df.select(
        "doc_id",
        F.length(F.col(text_col)).cast("long").alias("n_chars_calc"),
        n_tokens.cast("long").alias("n_tokens"),
        sum_token_chars.cast("long").alias("sum_token_chars"),
        n_punct.cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stopwords"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits with
    fixed precedence; 'und' when no marker hits at all."""
    toks = tokenize(F.col(text_col))

    def marker_counter(markers):
        return lambda acc, t: acc + F.when(t.isin(*markers), 1).otherwise(0)

    scores = {
        lang: F.aggregate(toks, F.lit(0), marker_counter(markers))
        for lang, markers in LANG_MARKERS
    }
    out = df.select(
        "doc_id", *[c.cast("long").alias(f"score_{l}") for l, c in scores.items()]
    )
    best = F.greatest(*[F.col(f"score_{l}") for l, _ in LANG_MARKERS])
    pred = F.lit("und")
    # Reverse precedence order so earlier languages win ties via later
    # overwrites in the when-chain below.
    for lang, _ in reversed(LANG_MARKERS):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), lang
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit content fingerprint of the normalized text (exact-dup key)."""
    return df.withColumn(
        "fp", portable_hash64(normalize_text(F.col(text_col)), seed="fp:")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one representative (lowest id) per fingerprint.

    Shape at scale: one hash-shuffle on the 60-bit fingerprint — the
    canonical groupBy dedup; survives skew because fingerprints of real
    corpora are near-uniform.
    """
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    return (
        fingerprint(df, text_col)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("__rn") == 1)
        .select(id_col, "fp", "n_copies")
    )


def _zip_ngrams(arr: Column, n: int, cnt: Column, sep: str) -> Column:
    """n-grams over ``arr`` by zipping n shifted copies, sliced to ``cnt``.

    Higher-order lambdas re-evaluate every OUTER expression they
    reference once per element — the old ``transform(sequence(1, cnt),
    i -> concat_ws(slice(arr, i, n)))`` form therefore re-derived the
    whole array (tokenize / normalize chain) per POSITION: O(len²)
    work per document, the reason x30's 500-doc rewrite took minutes.
    Here every shifted copy enters ``arrays_zip`` as an ARGUMENT
    (evaluated once per row) and the lambda touches only its own
    variable. concat_ws skips the NULLs that zip-padding introduces at
    the tail, which reproduces the short-window grams exactly."""
    size = F.greatest(F.size(arr), F.lit(1))
    shifted = [arr] + [
        F.slice(arr, j + 1, F.greatest(size - j, F.lit(1)))
        for j in range(1, n)
    ]
    return F.transform(
        F.slice(F.arrays_zip(*shifted), 1, cnt),
        lambda s: F.concat_ws(sep, *[s[str(j)] for j in range(n)]),
    )


def shingles(col: Column, k: int = 5) -> Column:
    """Character k-shingles of the normalized text as an array (no explode)."""
    norm = normalize_text(col)
    length = F.length(norm)
    n = F.greatest(F.lit(1), length - F.lit(k - 1))
    # split('', '') is [] (not ['']); the old substr form gave ['']
    return F.when(length == 0, F.array(F.lit(""))).otherwise(
        _zip_ngrams(F.split(norm, ""), k, n, "")
    )


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Word n-grams over whitespace tokens (the n-gram-Jaccard dedup unit)."""
    toks = tokenize(col)
    cnt = F.greatest(F.lit(1), F.size(toks) - F.lit(n - 1))
    return _zip_ngrams(toks, n, cnt, " ")


def oracle_shingles(expr: str, k: int = 5) -> str:
    norm = ORACLE_NORMALIZE.format(c=expr)
    return (
        f"list_transform(generate_series(1, greatest(1, length({norm}) - {k - 1})),"
        f" i -> substr({norm}, i, {k}))"
    )


# MinHash arithmetic scheme (shared with the DuckDB oracle — the SQL is
# generated from these same constants): shingle base hash = degree-(k-1)
# polynomial over char codes with base 131 mod P; hash function j is the
# 2-universal affine map (A_j·base + B_j) mod P. Pure 64-bit integer
# arithmetic — bit-identical across engines and ~7× faster than md5.
MINHASH_PRIME = 1_000_000_007
SHINGLE_POLY_BASE = 131
MINHASH_A = (
    961748927, 982451653, 899809343, 824633749,
    752882729, 678910987, 514229213, 433494437,
)
MINHASH_B = (
    15485863, 32452843, 49979687, 67867967,
    86028121, 104395301, 122949823, 141650939,
)


def _minhash_columns(
    norm: list, num_hashes: int, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """MinHash of a batch of normalized texts: ``(sig, null)`` with ``sig``
    an ``int64[num_hashes, n]`` and ``null`` flagging NULL texts.

    The whole batch is one code-point array (one join + one UTF-32
    encode); every document's window starts are gathered at once, their
    polynomial base hashes summed column by column, and each affine map's
    per-document min taken by ``np.minimum.reduceat`` over the window
    segments. The min over the shingle multiset equals the min over the
    distinct set, so no per-document ``unique`` is needed. A document
    shorter than ``k`` has no window and keeps the ``P`` sentinel in every
    slot, as the DuckDB oracle's single padded window does."""
    P = MINHASH_PRIME
    n = len(norm)
    null = np.fromiter((t is None for t in norm), bool, n)
    texts = [t or "" for t in norm]
    lens = np.fromiter(map(len, texts), np.int64, n)
    codes = np.frombuffer(
        "".join(texts).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    nwin = np.maximum(lens - (k - 1), 0)
    sig = np.full((num_hashes, n), P, dtype=np.int64)
    total = int(nwin.sum())
    if total:
        seg = np.cumsum(nwin) - nwin  # each doc's first window slot
        doc_start = np.cumsum(lens) - lens
        pos = np.arange(total) + np.repeat(doc_start - seg, nwin)
        base = sum(
            codes[pos + i] * pow(SHINGLE_POLY_BASE, k - 1 - i, P)
            for i in range(k)
        ) % P
        has = nwin > 0
        starts = seg[has]
        for j in range(num_hashes):
            h = (MINHASH_A[j] * base + MINHASH_B[j]) % P
            sig[j, has] = np.minimum.reduceat(h, starts)
    return sig, null


def minhash_signature(
    df: DataFrame, text_col: str = "text", num_hashes: int = 8, k: int = 5
) -> DataFrame:
    """K MinHash values per document over character k-shingles, appended
    as columns ``mh0..mh{K-1}``.

    One row per document, no shuffle: normalization stays JVM-side
    (codegen regexp), then ONE ``mapInArrow`` over the input's own
    partitions runs the integer arithmetic in numpy over whole Arrow
    batches (:func:`_minhash_columns`). No repartition: every Python
    task pays a fixed start-up toll (see :func:`ensure_parallelism`) that
    dwarfs the per-document work here, so a small input is one task.
    A NULL text gives NULL signatures."""
    import pyarrow as pa
    from pyspark.sql import types as T

    assert num_hashes <= len(MINHASH_A)
    schema = T.StructType(
        df.schema.fields
        + [T.StructField(f"mh{j}", T.LongType()) for j in range(num_hashes)]
    )

    def run(batches):
        for batch in batches:
            sig, null = _minhash_columns(
                batch.column(batch.num_columns - 1).to_pylist(), num_hashes, k
            )
            yield pa.RecordBatch.from_arrays(
                batch.columns[:-1]
                + [pa.array(s, mask=null) for s in sig],
                names=schema.fieldNames(),
            )

    return df.select(
        "*", normalize_text(F.col(text_col)).alias("__norm")
    ).mapInArrow(run, schema)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 5,
) -> DataFrame:
    """Banded-LSH near-dup candidate pairs (a < b), joined within buckets only.

    bands = num_hashes / rows_per_band; a pair collides when all hashes of
    any band agree. The join key is (band_idx, md5(band values)) — never an
    all-pairs comparison; at 100 TB the bucket join shuffles O(docs·bands)
    small rows, and AQE's skew-join splits any pathological bucket.

    Pairs come from a numpy hot loop behind ONE mapInPandas over the
    bucket-key shuffle (``_lsh_candidate_pairs_arrow``) — in-bucket pair
    counts are quadratic in bucket size (the sf0.1 fixtures hit ~600k raw
    pairs from 5k docs), and Catalyst evaluates the per-pair struct/filter
    lambdas interpreted, which made pair EMISSION (not the shuffle, not
    the signatures) the whole stage's cost.

    The kernel needs integral doc ids (its output schema is ``a long, b
    long``) and packed numeric band keys (``rows_per_band`` ≤ 2). Any
    other input takes the pure-expression variant
    (``_lsh_candidate_pairs_expr``: identical pair set, same
    first-matching-band suppression, same shuffle shape), which orders
    any orderable id type via least/greatest and keys wide bands by md5.
    NULL texts (→ NULL signatures) are handled identically by both: NULL
    band keys group together, and the all-NULL bucket's pairs emit
    exactly once (from band 0)."""
    variant = (
        _lsh_candidate_pairs_arrow
        if _lsh_kernel_fits(df, id_col, rows_per_band)
        else _lsh_candidate_pairs_expr
    )
    return variant(
        df, text_col, id_col,
        num_hashes=num_hashes, rows_per_band=rows_per_band, k=k,
    )


def _lsh_kernel_fits(df: DataFrame, id_col: str, rows_per_band: int) -> bool:
    """Whether the numpy bucket-pair kernel takes this input: integral ids
    (its pairs are ``long``) and ``rows_per_band`` ≤ 2 (packed numeric
    band keys) — read from the schema, before any job."""
    from pyspark.sql import types as T

    return rows_per_band <= 2 and isinstance(
        df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )


def _lsh_candidate_pairs_expr(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    rows_per_band: int,
    k: int,
) -> DataFrame:
    """Pure-expression pair emission for :func:`lsh_candidate_pairs`: the
    route for non-integral ids and wide (md5-keyed) bands, and the spec
    the Arrow kernel is tested against."""
    num_bands = num_hashes // rows_per_band
    sig = minhash_signature(
        df.select(id_col, text_col), text_col, num_hashes, k
    )
    # Numeric band keys when they fit: rows_per_band ≤ 2 hashes pack into
    # one BIGINT (injective: each hash < P < 2^30), so the shuffle key is
    # 8 bytes of codegen arithmetic. Wider bands fall back to an md5 of the
    # concatenated hashes — same collision semantics, string key.
    def bkey_of(b: int) -> Column:
        cols = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        if rows_per_band <= 2:
            packed = cols[0]
            for c in cols[1:]:
                packed = packed * F.lit(1 << 30) + c
            return packed
        return F.md5(F.concat_ws("-", *[c.cast("string") for c in cols]))

    keys_arr = F.array(*[bkey_of(b) for b in range(num_bands)])
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bkey_of(b).alias("bkey"))
            for b in range(num_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col), keys_arr.alias("keys"), F.explode(band_structs).alias("bb")
    ).select(
        id_col,
        "keys",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    # Pair generation via ONE hash aggregation on the bucket key, emitting
    # each bucket's pairs array-side — a self-join here would re-evaluate the
    # whole signature subtree on both sides (Spark duplicates the subplan)
    # and shuffle it twice. Pairs are canonicalized (a < b) per pair with
    # least/greatest — cheaper than sorting every bucket's member array.
    # Cross-band duplicates are suppressed at the SOURCE instead of
    # by a global distinct: each member carries its full band-key array, and
    # a pair is emitted only from the FIRST band where the two agree — no
    # second shuffle, same pair set.
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), "keys")
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )

    def first_match_is_current(x: Column, y: Column) -> Column:
        # "No band BEFORE the current one already matched" — unrolled to a
        # static AND chain of getItem comparisons (num_bands is a Python
        # constant). The per-pair zip_with/slice/exists form this replaces
        # allocated two arrays per candidate pair; at ~600k in-bucket pairs
        # per 5k docs those allocations dominated the whole x6 stage.
        pred = F.lit(True)
        for b in range(num_bands - 1):
            pred = pred & (
                (F.col("band") <= F.lit(b))
                | (x["keys"][b] != y["keys"][b])
            )
        return pred

    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    # collect_list order is arbitrary; canonicalize each
                    # unordered pair with least/greatest instead of paying
                    # a per-bucket struct-array sort.
                    lambda y: F.struct(
                        F.least(x["id"], y["id"]).alias("a"),
                        F.greatest(x["id"], y["id"]).alias("b"),
                        first_match_is_current(x, y).alias("keep"),
                    ),
                ),
            )
        ),
        lambda p: p["keep"],
    )
    return buckets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )


def _bucket_pairs(
    ids: np.ndarray,
    band: np.ndarray,
    bk_null: np.ndarray,
    bkey: np.ndarray,
    keys: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical ``(a, b)`` id pairs (a < b) of a set of band rows, each
    bucket whole: one row per (document, band), grouped on
    ``(band, bk_null, bkey)``; ``keys[:, c]`` is the row's document's key
    at band ``c``.

    Rows sort by bucket once; each bucket's pairs are its triu indices,
    kept only from the FIRST band where the two documents' keys agree
    (vectorized column compares against the earlier bands), so a pair
    that collides in several bands emits once. The loop is O(buckets)
    Python iterations; everything per pair is numpy."""
    order = np.lexsort((bkey, bk_null, band))
    ids, band, bk_null, bkey, keys = (
        ids[order], band[order], bk_null[order], bkey[order], keys[order]
    )
    change = (
        (np.diff(band) != 0)
        | (np.diff(bk_null) != 0)
        | (np.diff(bkey) != 0)
    )
    starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    ends = np.concatenate((starts[1:], [len(ids)]))
    out_a, out_b = [], []
    for gs, ge in zip(starts, ends):
        size = ge - gs
        if size < 2:
            continue
        iu, ju = np.triu_indices(size, 1)
        gk = keys[gs:ge]
        keep = np.ones(len(iu), dtype=bool)
        # emit only from the FIRST band where the two signatures agree
        for bprev in range(int(band[gs])):
            keep &= gk[iu, bprev] != gk[ju, bprev]
        if not keep.any():
            continue
        gi = ids[gs:ge]
        left, right = gi[iu[keep]], gi[ju[keep]]
        out_a.append(np.minimum(left, right))
        out_b.append(np.maximum(left, right))
    if not out_a:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_a), np.concatenate(out_b)


def _lsh_candidate_pairs_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    rows_per_band: int,
    k: int,
) -> DataFrame:
    """Arrow/numpy pair emission for :func:`lsh_candidate_pairs` — same
    bucket shuffle, same pair set, quadratic work in C instead of
    interpreted Catalyst lambdas.

    Shape: band rows repartition on (band, bkey) so every bucket lands
    whole in one partition, then ONE mapInPandas pass per partition runs
    :func:`_bucket_pairs` over its rows. Needs integral ids and
    ``rows_per_band`` ≤ 2 (packed numeric band keys)."""
    num_bands = num_hashes // rows_per_band
    sig = minhash_signature(
        df.select(id_col, text_col), text_col, num_hashes, k
    )

    def bkey_of(b: int) -> Column:
        cols = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        packed = cols[0]
        for c in cols[1:]:
            packed = packed * F.lit(1 << 30) + c
        return packed

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), bkey_of(b).alias("bkey"))
            for b in range(num_bands)
        ]
    )
    bands = sig.select(
        F.col(id_col).alias("__id"),
        *[bkey_of(b).alias(f"k{b}") for b in range(num_bands)],
        F.explode(band_structs).alias("bb"),
    ).select(
        "__id",
        *[f"k{b}" for b in range(num_bands)],
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    parted = bands.repartition("band", "bkey")
    nb = num_bands

    def emit(batches):
        chunks = [c for c in batches if len(c)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(
            chunks, ignore_index=True
        )
        # NULL ids can't be represented in the int64 pair output; drop them
        # (the expr variant would emit least/greatest degenerate pairs —
        # garbage either way for a null document key).
        id_null = pdf["__id"].isna()
        if id_null.any():
            pdf = pdf[~id_null]
            if not len(pdf):
                return
        # NULL texts → NULL signatures → NULL band keys (NaN floats by the
        # time Arrow hands pandas the batch). Match the expression
        # variant's groupBy semantics exactly: NULL keys form their own
        # bucket per band (the null-flag joins the grouping key so the
        # fillna(0) sentinel can't collide with a genuine 0 key), and
        # within the all-NULL bucket the filled keys compare equal at
        # every prior band, so its pairs emit once — from band 0 only.
        bk_s = pdf["bkey"]
        a, b = _bucket_pairs(
            pdf["__id"].to_numpy(np.int64),
            pdf["band"].to_numpy(np.int64),
            bk_s.isna().to_numpy().astype(np.int8),  # int: np.diff-able
            bk_s.fillna(0).to_numpy(np.int64),
            np.stack(
                [pdf[f"k{c}"].fillna(0).to_numpy(np.int64)
                 for c in range(nb)],
                axis=1,
            ),
        )
        if len(a):
            yield pd.DataFrame({"a": a, "b": b})

    return parted.mapInPandas(emit, schema="a long, b long")


def _shingle_jaccard(ta: list, tb: list, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact character k-shingle-set Jaccard of aligned normalized-text
    pairs: ``(values, null)``; a pair with a NULL text is NULL.

    Shingles are code-point windows, the DuckDB oracle's ``substr`` form;
    a text shorter than ``k`` (``""`` included) is its own single shingle.
    Each distinct text's set is built once per batch, since a document
    sits in many candidate pairs."""
    sets: dict[str, frozenset] = {}

    def sset(t: str) -> frozenset:
        s = sets.get(t)
        if s is None:
            s = sets[t] = frozenset(
                [t[i:i + k] for i in range(len(t) - k + 1)] if len(t) >= k
                else [t]
            )
        return s

    n = len(ta)
    out = np.zeros(n, dtype=np.float64)
    null = np.zeros(n, dtype=bool)
    for i, (x, y) in enumerate(zip(ta, tb)):
        if x is None or y is None:
            null[i] = True
            continue
        a, b = sset(x), sset(y)
        inter = len(a & b)
        out[i] = inter / (len(a) + len(b) - inter)
    return out, null


#: ``near_dup_pairs`` pulls an input of at most this many documents to the
#: driver in one Arrow collect (the shared ``INLINE_MAX_ROWS``)
_NEAR_DUP_MAX_ROWS = INLINE_MAX_ROWS

#: ``near_dup_pairs`` calls by route: ``inline``, or the reason the input
#: took the distributed plan (``over_bound``, ``duplicate_ids``,
#: ``kernel_decline``)
near_dup_routes: Counter = Counter()


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 5,
) -> DataFrame:
    """LSH candidates verified by true shingle-set Jaccard ≥ threshold.

    Not lazy: like ``PgOutputStreamDecoder.decode_batch``, a call runs one
    Spark job. An input of at most ``_NEAR_DUP_MAX_ROWS`` documents comes
    to the driver as ONE Arrow collect of ``(id, normalize_text(text))``
    (normalization stays in the JVM; the parquet footers decline a larger
    file-backed input without a job). The driver then runs the kernels the
    distributed plan runs — :func:`_minhash_columns`, the packed band keys,
    :func:`_bucket_pairs` and :func:`_shingle_jaccard` — and the scored
    pairs go downstream as ``createDataFrame(arrow)``, a local relation, so
    no Python worker starts. Rows with a NULL id are dropped; a NULL text
    has no pair that survives (its Jaccard is NULL).

    The decline route is the distributed plan, counted in
    ``near_dup_routes`` by reason: ``over_bound``; ``duplicate_ids``
    (its joins multiply rows that share an id, which only that plan
    reproduces); ``kernel_decline`` (non-integral ids or
    ``rows_per_band`` > 2, which take :func:`_lsh_candidate_pairs_expr`).
    There, verification touches candidate pairs only: the pair list joins
    ``(id, normalize_text(text))`` on each side (broadcast when it fits),
    and ONE ``mapInArrow`` computes each pair's exact Jaccard.

    On both routes rounding to 4 places and the threshold filter are the
    same JVM projection.
    """
    scored = None
    if _lsh_kernel_fits(df, id_col, rows_per_band):
        reason, scored = _near_dup_inline(
            df, text_col, id_col, threshold=threshold,
            num_hashes=num_hashes, rows_per_band=rows_per_band, k=k,
        )
    else:
        reason = "kernel_decline"
    near_dup_routes[reason] += 1
    if scored is None:
        scored = _near_dup_distributed(
            df, text_col, id_col,
            num_hashes=num_hashes, rows_per_band=rows_per_band, k=k,
        )
    return (
        scored.select("a", "b", F.round("__j", 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _near_dup_inline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float,
    num_hashes: int,
    rows_per_band: int,
    k: int,
) -> tuple[str, DataFrame | None]:
    """``("inline", scored pairs)`` computed on the driver, or
    ``(reason, None)`` when the input takes the distributed plan."""
    import pyarrow as pa
    import pyarrow.compute as pc

    bound = _NEAR_DUP_MAX_ROWS
    if footer_rows_exceed(df, bound):
        return "over_bound", None
    got = df.select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("text"),
    ).limit(bound + 1).toArrow()
    if got.num_rows > bound:
        return "over_bound", None
    got = got.filter(pc.is_valid(got["id"]))
    if len(np.unique(got["id"].to_numpy())) < got.num_rows:
        return "duplicate_ids", None
    # every pair with a NULL text scores NULL, which the filter drops, so
    # NULL texts leave before the kernels (the distributed plan's NULL
    # bucket pairs them only with each other)
    got = got.filter(pc.is_valid(got["text"])).sort_by("id")
    ids = got["id"].to_numpy().astype(np.int64)
    texts = np.array(got["text"].to_pylist(), dtype=object)
    # sorted unique ids: a row's position orders as its id does, so the
    # kernel's (min, max) positions are the canonical (a < b) pair
    n = len(ids)
    num_bands = num_hashes // rows_per_band
    sig, _ = _minhash_columns(list(texts), num_hashes, k)
    keys = np.empty((n, num_bands), dtype=np.int64)
    for b in range(num_bands):  # packed as bkey_of packs a band
        packed = sig[b * rows_per_band]
        for r in range(1, rows_per_band):
            packed = packed * (1 << 30) + sig[b * rows_per_band + r]
        keys[:, b] = packed
    left, right = _bucket_pairs(
        np.tile(np.arange(n), num_bands),
        np.repeat(np.arange(num_bands), n),
        np.zeros(n * num_bands, dtype=np.int8),
        keys.T.ravel(),
        np.tile(keys, (num_bands, 1)),
    )
    jac, _ = _shingle_jaccard(list(texts[left]), list(texts[right]), k)
    # rounding to 4 places moves a value by at most 5e-5, so nothing the
    # JVM filter keeps is dropped here
    keep = jac >= threshold - 1e-4
    scored = pa.table(
        {"a": ids[left[keep]], "b": ids[right[keep]], "__j": jac[keep]}
    )
    return "inline", df.sparkSession.createDataFrame(scored)


def _near_dup_distributed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    rows_per_band: int,
    k: int,
) -> DataFrame:
    """The decline route: the candidate pairs of
    :func:`lsh_candidate_pairs` joined to each side's normalized text, and
    ONE ``mapInArrow`` of :func:`_shingle_jaccard` — pairs with ``__j``."""
    import pyarrow as pa
    from pyspark.sql import types as T

    cands = lsh_candidate_pairs(
        df, text_col, id_col,
        num_hashes=num_hashes, rows_per_band=rows_per_band, k=k,
    )

    def side(c: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"__{c}"),
            normalize_text(F.col(text_col)).alias(f"__t{c}"),
        )

    joined = (
        cands.join(side("a"), F.col("a") == F.col("__a"))
        .join(side("b"), F.col("b") == F.col("__b"))
        .select("a", "b", "__ta", "__tb")
    )
    schema = T.StructType(
        [cands.schema["a"], cands.schema["b"],
         T.StructField("__j", T.DoubleType())]
    )

    def run(batches):
        for batch in batches:
            jac, null = _shingle_jaccard(
                batch.column(2).to_pylist(), batch.column(3).to_pylist(), k
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), pa.array(jac, mask=null)],
                names=["a", "b", "__j"],
            )

    return joined.mapInArrow(run, schema)


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for each corpus document, the number of
    distinct word n-grams it shares with ANY benchmark document — the
    n-gram-overlap check training pipelines run before evaluation so test
    data never leaks into the training set. Docs with hits above a policy
    threshold get dropped or audited.

    Scale shape: the benchmark n-gram set is small by construction
    (benchmarks are thousands of docs, the corpus is billions), so the
    semi-join broadcasts when it fits and AQE decides otherwise; the corpus
    side explodes its DISTINCT n-grams once — one shuffle on the gram for
    the join, one aggregation on the doc id. Never all-pairs.
    """

    def grams(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams(F.col(text_col), n))
            ).alias("g"),
        )

    bench_grams = grams(benchmark).select("g").distinct()
    # the corpus-side gram explode is CPU-heavy per row: rebalance a
    # single-split input so it doesn't serialize on one core (no-op on
    # well-partitioned inputs)
    return (
        grams(ensure_parallelism(corpus))
        .join(bench_grams, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 5,
    max_iters: int = 20,
    method: str = "propagate",
) -> DataFrame:
    """Connected components over the LSH candidate graph: every document that
    has at least one near-dup candidate, labeled with its cluster id (= the
    minimum doc id in its component). The canonical-document-selection step
    of a dedup pipeline: keep ``doc_id == cluster`` as the representative.

    Distributed shape, ``method="propagate"`` (default): min-label
    propagation to fixpoint — each iteration is ONE shuffle keyed on the
    node id (join labels to the symmetric edge list, take the min incoming
    label). Converges in O(component diameter) iterations; near-dup
    components are dense (almost-cliques from shared LSH buckets), so 2-4
    iterations is typical. The iterate-until-converged loop
    localCheckpoints per iteration (same pattern as IVF Lloyd iterations)
    so plan depth stays constant, and raises rather than returning
    partially propagated labels if the budget runs out.

    ``method="star"``: large-star/small-star contraction
    (:func:`connected_components_star`) — O(log² n) rounds regardless of
    diameter, the right trade when the candidate graph may contain long
    chains (adversarial near-dup ladders). Both methods return identical
    (doc_id, cluster) labelings.
    """
    edges = lsh_candidate_pairs(
        df, text_col, id_col,
        num_hashes=num_hashes, rows_per_band=rows_per_band, k=k,
    )
    if method == "star":
        cc = connected_components_star(
            edges.selectExpr("a AS src", "b AS dst")
        )
        return cc.select(F.col("node").alias(id_col), "cluster")
    if method != "propagate":
        raise ValueError(f"unknown method {method!r}")
    sym = edges.selectExpr("a AS src", "b AS dst").unionByName(
        edges.selectExpr("b AS src", "a AS dst")
    )
    sym = sym.localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)
    changed = -1  # sentinel: max_iters=0 reaches the for-else with no pass
    for _ in range(max_iters):
        new_labels = propagate_min_labels(sym, labels).localCheckpoint(
            eager=True
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exhausting max_iters is otherwise indistinguishable from success:
        # a component with diameter > max_iters would return partially
        # propagated (wrong) labels silently. Dedup graphs are near-cliques
        # (2-4 rounds typical), so hitting this means an adversarial chain —
        # raise rather than hand back corrupt clusters; the large-star/
        # small-star O(log n)-round variant is the fix at that point.
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} iterations "
            f"({changed} labels still changing); raise max_iters or use a "
            "logarithmic-round connected-components variant"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster"))


def token_typicality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    rare_max_count: int = 2,
) -> DataFrame:
    """Corpus-trained unigram quality score: how "typical" each document's
    vocabulary is of the corpus it lives in — the self-supervised LM-style
    filter stage of a training-data pipeline (gibberish, boilerplate and
    wrong-language docs surface as rare-token-heavy outliers; no external
    model needed).

    Per doc: ``mean_tok_count`` (average corpus frequency of its tokens)
    and ``rare_ratio`` (fraction of tokens seen ≤ ``rare_max_count`` times
    corpus-wide). Exact integer/rational arithmetic by design — the
    canonical mean-log-prob formulation is a drop-in (wrap the joined
    count in ``F.log``), but libm ``ln`` is not bit-identical across
    engines, and these two features carry the same ordering signal while
    hashing exactly against the SQL oracle.

    Scale shape: ONE token-count aggregation (map-side combined — the
    exchange carries one row per distinct token per partition), the
    vocabulary joined back to the exploded tokens (vocab ≪ corpus:
    broadcast when it fits, AQE decides), then ONE per-doc aggregation.
    Never quadratic, no global rank window.
    """
    tok = df.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    return (
        tok.join(vocab, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            # explicit sum/count, not avg(): a running-mean implementation
            # of AVG is not bit-equal to the exact-integer-sum division
            F.round(
                F.sum("cnt").cast("double") / F.count("*"), 6
            ).alias("mean_tok_count"),
            F.round(
                F.sum(
                    F.when(F.col("cnt") <= rare_max_count, 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("rare_ratio"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    seed: str = "strat:",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the language/domain
    rebalancing pass of a training-data pipeline ("keep 50% of English,
    10% of everything else").

    The keep decision is ``portable_hash64(id) % 10000 < rate·10000``:
    pure map-side filter (ZERO shuffle, rides the scan), reproducible
    across runs/engines (md5, not a seeded RNG — re-running the pipeline
    keeps the SAME documents, which is what makes downstream caches and
    dedup results stable), and exact-in-expectation per stratum. Rates are
    compiled into a literal CASE chain — safe at ANY corpus size because
    the chain's length is the CALLER's ``rates`` dict (a hand-written
    mixing recipe), never a collect over the data; cardinality-unbounded
    recipes belong in temperature_sample, whose guard switches to a
    broadcast threshold join."""
    h = portable_hash64(F.col(id_col).cast("string"), seed=seed) % 10000
    rate_bp = F.lit(int(default_rate * 10000))
    for k, v in sorted(rates.items()):
        rate_bp = F.when(
            F.col(strata_col) == k, F.lit(int(v * 10000))
        ).otherwise(rate_bp)
    return df.filter(h < rate_bp)


def temperature_sample(
    df: DataFrame,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    target_denom: int = 2,
    seed: str = "temp:",
    max_inline_sources: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/GPT-3 data-mixing
    recipe at alpha = 0.5): per-source sampling budgets proportional to
    sqrt(source mass) — upweighting small sources relative to their
    share, capping dominant ones — with a total budget of
    ``1/target_denom`` of the corpus mass.

    Arithmetic is pinned so an independent engine reproduces the draw
    bit-for-bit: masses are exact integer sums; sqrt is quantized to
    integer micro-units before the cross-source sum (a float sum's
    result depends on aggregation order — the one thing a distributed
    engine must not depend on); the per-source keep threshold is one
    fixed-shape double expression over those integers, floored to a
    parts-per-million rate; the keep decision is the portable md5 hash
    of the id against that rate. Plan shape: ONE map-side-combinable
    agg (rows = source count); up to ``max_inline_sources`` distinct
    sources the thresholds inline as a literal CASE and the sampling
    filter is zero-shuffle, riding the scan. Past the guard — a user
    passing an unbounded-cardinality column like a raw domain — neither
    the driver collect nor the plan literal may grow with the corpus,
    so the same arithmetic runs distributed (the one 128-bit-exact
    denominator product in decimal(38,0), then ONE round to double,
    matching Python's int->float conversion) and the per-source
    thresholds broadcast-join back on the source key."""
    import math

    stats_df = (
        df.filter(F.col(source_col).isNotNull())
        .groupBy(source_col)
        .agg(F.sum(weight_col).cast("long").alias("mass"))
        .filter(F.col("mass") > 0)
        # lazy checkpoint: the corpus aggregation materializes ONCE (at
        # the probe below) and the distributed path's q/g subtrees reuse
        # it — without this the over-guard path would re-run the full
        # corpus scan+agg for the thresholds after discarding the
        # probe's work
        .localCheckpoint(eager=False)
    )
    # Bounded probe: collect at most guard+1 stat rows. A full set means
    # these ARE the complete stats (reuse them — no second agg job); an
    # overflow means inline literals would grow with the corpus, so
    # switch to the distributed path.
    stats = stats_df.limit(max_inline_sources + 1).collect()
    if len(stats) <= max_inline_sources:
        # A NULL source or a zero/NULL mass (all-empty documents) cannot
        # receive a sqrt-proportional budget — those rows sample at rate
        # 0 (they fall through the CASE chain; the agg-side filter
        # already dropped them) instead of killing the job with a
        # ZeroDivisionError/TypeError driver-side.
        masses = {r[source_col]: int(r["mass"]) for r in stats}
        if not masses:
            return df.filter(F.lit(False))
        total = sum(masses.values())
        budget = total // target_denom
        sq = {
            s: math.floor(math.sqrt(m) * 1_000_000)
            for s, m in masses.items()
        }
        ssum = sum(sq.values())
        thr = {
            s: min(
                1_000_000,
                math.floor(
                    (1_000_000.0 * budget) * sq[s] / (ssum * masses[s])
                ),
            )
            for s in masses
        }
        h = (
            portable_hash64(F.col(id_col).cast("string"), seed=seed)
            % 1_000_000
        )
        # flat map literal, NOT a nested when/otherwise chain: the chain
        # builds an expression tree whose DEPTH is the source count and
        # Catalyst overflows its stack around a few hundred levels — the
        # literal map keeps the lookup one node deep at any width
        entries: list = []
        for s, t in sorted(thr.items()):
            entries += [F.lit(s), F.lit(t)]
        rate = F.coalesce(
            F.element_at(F.create_map(*entries), F.col(source_col)),
            F.lit(0),
        )
        return df.filter(h < rate)

    # Distributed path: identical arithmetic, never driver-side. sq is
    # quantized per source exactly like the literal path (IEEE sqrt is
    # engine-independent); the global sums ride decimal(38,0) so ssum
    # can't overflow a long, and the denominator ssum*mass stays an
    # exact 128-bit product rounded ONCE to double — the same value
    # Python's arbitrary-precision int/float division sees (exact up to
    # 38-digit products, i.e. any physically real corpus).
    q = stats_df.withColumn(
        "sq", F.floor(F.sqrt(F.col("mass").cast("double")) * 1_000_000)
    )
    denom = int(target_denom)
    g = q.agg(
        F.sum(F.col("mass").cast("decimal(38,0)")).alias("total"),
        F.sum(F.col("sq").cast("decimal(38,0)")).alias("ssum"),
    ).select(
        F.expr(f"CAST(total / {denom} AS decimal(38,0))").alias("bc"),
        "total", "ssum",
    ).select(
        # decimal division rounds half-up; floor-divide like Python's //
        # (masses are positive, so flooring == subtract-1-when-over)
        F.when(
            F.col("bc") * denom > F.col("total"), F.col("bc") - 1
        ).otherwise(F.col("bc")).alias("budget"),
        "ssum",
    )
    thr_df = q.crossJoin(F.broadcast(g)).select(
        source_col,
        F.least(
            F.lit(1_000_000),
            F.floor(
                (F.lit(1_000_000.0) * F.col("budget").cast("double"))
                * F.col("sq").cast("double")
                / (
                    F.col("ssum") * F.col("mass").cast("decimal(38,0)")
                ).cast("double")
            ),
        ).alias("thr"),
    )
    h = (
        portable_hash64(F.col(id_col).cast("string"), seed=seed)
        % 1_000_000
    )
    return (
        df.join(F.broadcast(thr_df), on=source_col, how="inner")
        .filter(h < F.col("thr"))
        .select(*df.columns)  # the key-join reordered; restore the shape
    )


def quota_per_group(
    df: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    quota: int = 50,
    order_by: Column | None = None,
) -> DataFrame:
    """Deterministic per-group cap — "at most K documents per domain", the
    anti-spam/anti-bias quota pass of a corpus build.

    One shuffle on the group key; within each group rows rank by
    ``order_by`` (default: the portable hash of the id, i.e. a stable
    uniform draw) and ranks above the quota drop. Skewed groups are the
    point here (one domain with millions of pages): AQE's skew handling
    splits the sort, and the output is at most K rows per group no matter
    the input skew."""
    if order_by is None:
        order_by = portable_hash64(F.col(id_col).cast("string"), seed="quota:")
    w = Window.partitionBy(group_col).orderBy(order_by, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    default_budget: int | None = None,
    sub_shards: int = 16,
    seed: str = "tbs:",
) -> DataFrame:
    """Token-budget mixture sampling — "take 200B tokens of web, 30B of
    code, 5B of books": the data-mixing pass that turns per-source corpus
    sizes into a target TOKEN composition (quotas in tokens, not rows —
    x24's row quota can't express "equal token mass" when document lengths
    differ across sources).

    Per source, documents are laid in a stable hash order (a uniform draw,
    reproducible across runs/engines) and kept while the running token
    total stays within the source's budget; ``default_budget`` caps
    unlisted sources (``None`` keeps them in full). Returns the kept rows
    as (id, source, n_tokens, end_tok) — ``end_tok`` is the document's
    position in the source's token stream, so downstream packing can
    consume the sample without recounting.

    Scale shape: a per-group prefix sum parallelized in TWO levels, so one
    mega-source never serializes into a single window partition (the skew
    hazard of a naive ``sum() over (partition by source)``): documents
    window-sum inside ``(source, sub_shard)`` — ``sub_shards`` × more
    partitions than sources — then the tiny per-sub-shard totals
    (|sources| · sub_shards rows) aggregate once, prefix-offset on the
    driver-scale side, and broadcast back. Integer token counts make the
    two-level sum EXACTLY equal to the single global window ordered by
    (sub_shard, hash, id) — which is what the SQL oracle replays."""
    h = portable_hash64(F.col(id_col).cast("string"), seed=seed)
    n_tok = F.coalesce(
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long"),
        F.lit(0),
    )
    budget = (
        F.lit(None).cast("long")
        if default_budget is None
        else F.lit(int(default_budget)).cast("long")
    )
    for k, v in sorted(budgets.items()):
        budget = F.when(
            F.col(source_col) == k, F.lit(int(v)).cast("long")
        ).otherwise(budget)
    t = df.select(
        F.col(id_col),
        F.col(source_col),
        n_tok.alias("n_tokens"),
        h.alias("__h"),
        (h % sub_shards).alias("__sub"),
        budget.alias("__budget"),
    )
    w_local = Window.partitionBy(source_col, "__sub").orderBy("__h", id_col)
    t = t.withColumn("__local_end", F.sum("n_tokens").over(w_local))
    w_off = (
        Window.partitionBy(source_col)
        .orderBy("__sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        t.groupBy(source_col, "__sub")
        .agg(F.sum("n_tokens").alias("__tot"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
        )
        .select(source_col, "__sub", "__offset")
    )
    # NOT a forced broadcast: offsets is |sources|·sub_shards rows — tiny
    # for named mixtures, but default_budget over a high-cardinality source
    # column (millions of domains) makes it too big to ship to the driver.
    # The window above already hash-partitioned t on (source, __sub), so
    # the equi-join reuses that exchange; AQE broadcasts when it fits.
    return (
        t.join(offsets, [source_col, "__sub"])
        .withColumn("end_tok", F.col("__offset") + F.col("__local_end"))
        .filter(
            F.col("__budget").isNull() | (F.col("end_tok") <= F.col("__budget"))
        )
        .select(id_col, source_col, "n_tokens", "end_tok")
    )


def pack_sequences(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
    shards: int = 8,
    seed: str = "pack:",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the layout pass that turns a
    document corpus into fixed-length training sequences (the standard
    GPT-style pretraining data prep: concatenate documents, slice every
    ``seq_len`` tokens).

    The corpus is split into ``shards`` independent token streams by the
    portable hash of the document id; within a shard, documents are laid
    end-to-end in ascending id order, and each document's half-open token
    span ``[begin_tok, end_tok)`` is reported together with the first/last
    training sequence it lands in (``seq = token_offset div seq_len``).
    A downstream writer groups by ``(shard, seq)`` range to emit the actual
    packed batches; this operator owns the deterministic placement.

    Scale shape: one shuffle — a window sum partitioned by the shard key.
    Parallelism is the shard count (set ``shards`` ≈ cluster cores at
    100 TB); no global ordering is ever required, which is the whole point
    of sharding the stream — a single corpus-wide cumulative sum would
    serialize on one partition. Placement is reproducible across runs and
    engines (md5 shard routing, id-ordered layout), so re-running the
    pipeline reproduces byte-identical training sequences.
    """
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    shard = (portable_hash64(F.col(id_col).cast("string"), seed=seed)
             % shards).alias("shard")
    t = df.select(F.col(id_col), shard, n_tok.alias("n_tokens"))
    w = Window.partitionBy("shard").orderBy(id_col)
    end = F.sum("n_tokens").over(w)
    return (
        t.withColumn("end_tok", end)
        .withColumn("begin_tok", F.col("end_tok") - F.col("n_tokens"))
        .withColumn("first_seq", F.expr(f"begin_tok div {seq_len}"))
        .withColumn("last_seq", F.expr(f"(end_tok - 1) div {seq_len}"))
        .withColumn("n_seqs", F.col("last_seq") - F.col("first_seq") + 1)
        .select(
            id_col, "shard", "n_tokens", "begin_tok", "end_tok",
            "first_seq", "last_seq", "n_seqs",
        )
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star edge
    contractions — the published MapReduce CC formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014; public):

    - large-star: each node hooks its LARGER neighbors to the minimum of
      its neighborhood (incl. itself);
    - small-star: each node hooks its smaller-or-equal neighbors (edges
      oriented larger→smaller) to that minimum.

    Alternating the two converges in O(log² n) rounds worst case (O(log n)
    observed in the paper's experiments) REGARDLESS of component diameter
    — the scale path for adversarial chain graphs where
    min-label propagation's O(diameter) loop (duplicate_clusters) would
    exhaust its iteration budget. Each star op is one hash aggregation
    (per-node neighborhood min) plus one equi-join — bounded shuffles, no
    neighborhood materialization (no collect_set), so high-degree nodes
    cost nothing extra. Rounds localCheckpoint so plan depth stays
    constant.

    Returns (node, cluster) for every node incident to an edge, cluster =
    the component's minimum node id — same contract as the propagate loop.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _canon(df: DataFrame) -> DataFrame:
        # undirected canonical form (min, max), deduped
        return df.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()

    def large_star(df: DataFrame) -> DataFrame:
        sym = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return _canon(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient each edge larger → smaller
        ori = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        hooked = ori.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
        return _canon(hooked.unionByName(self_edges))

    for _ in range(max_rounds):
        new_e = small_star(large_star(e)).localCheckpoint(eager=True)
        # Converged when the canonical edge set is unchanged (both are
        # distinct canonical forms, so count + one-sided except suffices).
        if new_e.count() == e.count() and new_e.exceptAll(e).isEmpty():
            e = new_e
            break
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds — not expected for any graph at O(log n) convergence"
        )
    # Converged state: stars rooted at each component's minimum; in the
    # canonical (min, max) edge form the root is therefore ``u``.
    return (
        e.select(F.col("u").alias("node"), F.col("u").alias("label"))
        .unionByName(e.select(F.col("v").alias("node"), F.col("u").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("cluster"))
        .select("node", "cluster")
    )


def propagate_min_labels(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation round: push each node's label to its
    neighbors, take the per-node minimum of (own label, incoming labels).

    This is duplicate_clusters' whole per-iteration dataflow, factored out
    so its plan shape can be regression-locked in isolation
    (tests/test_plans.py): an equi-join on the node id plus one hash
    aggregation — bounded shuffles, never a cartesian."""
    msgs = sym.join(labels, sym["src"] == labels["node"]).select(
        F.col("dst").alias("node"), F.col("label")
    )
    return (
        labels.unionByName(msgs)
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash over whitespace tokens: per-bit signed vote, sign → bit.

    Each token hashes as a polynomial rolling hash of its char codes (mod
    MINHASH_PRIME) mixed through one affine map — the arithmetic the
    DuckDB oracle reproduces with list_reduce + ord(). Arrow-batched numpy
    path: each *distinct* token in the batch is hashed once (Zipf makes
    the cache hit rate high), votes are one vectorized sign-sum per
    document, and the big-int polynomial is reduced mod P only at the end
    (identical arithmetic: mod distributes over the fold). The
    pure-expression form, which evaluates `bits` interpreted fold passes
    over the token array, is the parity reference in tests/test_plans.py.
    """
    import re

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    P = MINHASH_PRIME
    A0, B0 = MINHASH_A[0], MINHASH_B[0]
    jbits = np.arange(bits, dtype=np.int64)
    pow2 = (1 << jbits).astype(np.int64)

    def tok_hash(tok: str) -> int:
        base = 0
        for c in tok:
            base = (base * SHINGLE_POLY_BASE + ord(c)) % P
        return (base * A0 + B0) % P

    def sim_of(s, cache):
        if s is None:
            return None
        toks = re.split(r"\s+", s.strip())  # Spark split() parity: "" → [""]
        hs = np.empty(len(toks), dtype=np.int64)
        for i, t in enumerate(toks):
            h = cache.get(t)
            if h is None:
                h = tok_hash(t)
                cache[t] = h
            hs[i] = h
        votes = (((hs[:, None] >> jbits) & 1) * 2 - 1).sum(axis=0)
        return int(pow2[votes > 0].sum())

    @pandas_udf(LongType())
    def sh(texts: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}
        return texts.map(lambda t: sim_of(t, cache))

    df = ensure_parallelism(df, target=8)
    return df.withColumn("simhash", sh(F.col(text_col)))


# ---------------------------------------------------------------------------
# Portable HyperLogLog — the sketch operator class (approximate distinct)
# ---------------------------------------------------------------------------
def hll_sketch(
    df: DataFrame, col: str, *, p: int = 9, group_by: list[str] | None = None
) -> DataFrame:
    """Engine-portable HyperLogLog distinct-count estimate.

    Spark's ``approx_count_distinct`` and DuckDB's HLL use different hash
    functions, so their estimates can never hash-match. This sketch is the
    same algorithm over the portable md5-derived 60-bit hash: bucket = low
    ``p`` bits, remainder = the other ``60-p`` bits, register = leading-zero
    rank of the remainder (computed bit-exactly via base-2 string length —
    float log2 is not portable), per-bucket MAX (associative → map-side
    combinable, the property that makes sketches THE 100 TB distinct-count
    tool), then the bias-corrected harmonic estimate with small-range
    correction.

    Returns ``group_by…, n_est (long)``.
    """
    m = 1 << p
    bits = 60 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    h = portable_hash64(F.col(col).cast("string"), seed="hll:")
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftright(h, p)  # exact: h < 2^60 is a positive long
    bit_len = F.length(F.conv(rest.cast("string"), 10, 2))
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits) - bit_len + 1
    ).cast("long")
    keys = list(group_by or [])
    regs = df.groupBy(*keys, bucket.alias("__b")).agg(
        F.max(rank).alias("__r")
    )
    # Sum over ALL m buckets: absent buckets contribute 2^-0 = 1 each.
    agg = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("__r"))).alias("__z"),
        F.count("*").alias("__nb"),
    )
    z = F.col("__z") + (F.lit(m) - F.col("__nb")).cast("double")
    raw = F.lit(alpha * m * m) / z
    zeros = F.lit(m) - F.col("__nb")
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), small).otherwise(raw)
    return agg.select(*keys, F.floor(est).cast("long").alias("n_est"))


def oracle_hll_sql(
    col_expr: str, *, p: int = 9, src: str = "__SRC__", group_keys: str = ""
) -> str:
    """DuckDB twin of :func:`hll_sketch` (same hash, same bit-exact rank,
    same estimate)."""
    m = 1 << p
    bits = 60 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    h = oracle_hash64(f"CAST({col_expr} AS VARCHAR)", "hll:")
    sel = f"{group_keys}, " if group_keys else ""
    grp = f"{group_keys}, " if group_keys else ""
    grp_all = f"GROUP BY {group_keys}" if group_keys else ""
    return f"""
    hashed AS (
        SELECT {sel}{h} % {m} AS b, ({h} >> {p}) AS rest
        FROM {src}
    ),
    regs AS (
        SELECT {sel}b,
               max(CASE WHEN rest = 0 THEN {bits + 1}
                        ELSE {bits} - length(bin(rest)) + 1
                   END) AS r
        FROM hashed GROUP BY {grp}b
    ),
    hagg AS (
        SELECT {sel}sum(power(2.0, -r)) AS z, count(*) AS nb
        FROM regs {grp_all}
    ),
    hest AS (
        SELECT {sel}CAST(floor(
            CASE WHEN (CAST({alpha} AS DOUBLE) * {m} * {m})
                          / (z + ({m} - nb)) <= 2.5 * {m}
                      AND ({m} - nb) > 0
                 THEN CAST({m} AS DOUBLE)
                      * ln(CAST({m} AS DOUBLE) / CAST({m} - nb AS DOUBLE))
                 ELSE (CAST({alpha} AS DOUBLE) * {m} * {m})
                          / (z + ({m} - nb)) END
        ) AS BIGINT) AS n_est
        FROM hagg
    )
"""


# ---------------------------------------------------------------------------
# Portable count-min sketch — frequency estimation / heavy hitters
# ---------------------------------------------------------------------------
CM_DEPTH = 4


def cm_sketch_counts(
    df: DataFrame, col: str, *, w: int = 1024, d: int = CM_DEPTH
) -> DataFrame:
    """Count-min sketch registers: one (j, bucket, cnt) row per non-empty
    cell. Like :func:`hll_sketch`, plain SUM aggregation → map-side
    combinable and mergeable across partitions/days; d independent hash
    rows come from seeding the portable hash. O(d·w) cells regardless of
    cardinality — the frequency-table shape that fits in memory at 100 TB.
    """
    rows = df.select(
        F.col(col).cast("string").alias("__item"),
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
    )
    bucket = F.pmod(
        portable_hash64(
            F.concat(F.col("j").cast("string"), F.lit(":"), F.col("__item")),
            seed="cm:",
        ),
        F.lit(w),
    )
    return rows.groupBy("j", bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, *, w: int = 1024,
    d: int = CM_DEPTH,
) -> DataFrame:
    """Point-query the sketch: estimate = MIN over the d rows' cells.
    Broadcast-joins the candidate set against the tiny register table."""
    probes = items.select(
        F.col(item_col),
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"),
    ).withColumn(
        "bucket",
        F.pmod(
            portable_hash64(
                F.concat(
                    F.col("j").cast("string"), F.lit(":"),
                    F.col(item_col).cast("string"),
                ),
                seed="cm:",
            ),
            F.lit(w),
        ),
    )
    joined = probes.join(F.broadcast(sketch), ["j", "bucket"], "left").select(
        item_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(item_col).agg(F.min("cnt").alias("cnt_est"))


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
    top: int = 20,
) -> DataFrame:
    """Corpus-level boilerplate detection: the ``top`` word n-grams by
    document frequency are the boilerplate bank (headers, footers, license
    blurbs — whatever repeats across documents), and each document reports
    how many of its distinct n-grams are boilerplate plus the ratio — the
    C4/RefinedWeb-style "most common lines" cleaning signal, computed
    corpus-wide instead of per-page.

    Scale shape: ONE doc-frequency aggregation over distinct-per-doc grams
    (map-side combined), a TakeOrdered for the top-``top`` bank
    (deterministic tie-break on the gram), then the bank — ``top`` rows —
    broadcast-joined back to the exploded grams and ONE per-doc count.
    Never all-pairs, nothing driver-side beyond the tiny bank.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("g"),
    )
    bank = (
        grams.groupBy("g")
        .agg(F.count("*").alias("df_"))
        .orderBy(F.col("df_").desc(), F.col("g"))
        .limit(top)
        .select("g")
    )
    per_doc = grams.groupBy(id_col).agg(
        F.count("*").alias("n_grams")
    )
    hits = (
        grams.join(F.broadcast(bank), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_boiler"))
    )
    # LEFT join: a document with zero boilerplate grams must still report
    # n_boiler=0 — a filter consumer would otherwise silently keep unscored
    # docs (the signal must cover every document).
    return (
        per_doc.join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            "n_grams",
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("boiler_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction — regex scrub for training-data curation
# ---------------------------------------------------------------------------
# Category → (pattern, replacement). Patterns are deliberately restricted to
# the regex subset whose semantics are IDENTICAL between Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded quantifiers, \b word
# boundaries, alternation — no backreferences, no lookaround. Replacement
# order is fixed (emails first: their local parts may embed digit runs that
# later patterns would otherwise bite into).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII scrubbing (the pre-release redaction pass every public training
    corpus runs — emails/phones/IPs/SSNs → typed placeholder tokens) plus
    per-category match counts, so downstream policy can drop documents
    whose PII density exceeds a threshold instead of just masking them.

    The reference ships the masking half as a column SMT
    (debezium-core/src/main/java/io/debezium/transforms/... mask/truncate,
    operators/mask.py here); this is the content-level counterpart a
    text corpus needs.

    Counts are taken per category on the text AS SEEN by that category's
    pass (i.e. after earlier replacements), exactly mirroring the
    sequential rewrite — so overlapping matches are never double-counted
    and `n_<cat>` always equals the number of placeholders inserted by
    that pass. Purely expression-level (regexp_count/regexp_replace in
    whole-stage codegen): zero shuffle, scales linearly with the scan.
    NULL text -> NULL out (counts and text)."""
    cur = F.col(text_col)
    cols = [F.col(id_col)]
    for cat, pat, repl in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{cat}"))
        cur = F.regexp_replace(cur, pat, repl)
    cols.append(cur.alias("clean_text"))
    return df.select(*cols)


def oracle_redact_pii_sql(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`redact_pii`'s per-row columns (the SELECT-list
    fragment after ``doc_id``): same patterns, same sequential-rewrite
    counting."""
    cur = text_expr
    parts = []
    for cat, pat, repl in PII_PATTERNS:
        parts.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT)"
            f" AS n_{cat}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    parts.append(f"{cur} AS clean_text")
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# Boilerplate span removal — x26's detector turned into a rewriter
# ---------------------------------------------------------------------------
def remove_boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 5,
    top: int = 20,
) -> DataFrame:
    """Rewrite documents with corpus-boilerplate spans removed: every token
    covered by an occurrence of a bank n-gram (the ``top`` highest-
    document-frequency word n-grams, exactly :func:`boilerplate_ngrams`'s
    bank) is dropped; the survivors are re-joined in order. This is the
    transformation half of the C4/RefinedWeb "most common lines" cleanup —
    x26 scores documents, this one actually cleans them.

    Scale shape: the bank aggregation is x26's (one map-side-combined
    doc-frequency agg + TakeOrdered for ``top`` rows); the bank — a
    bounded constant, like the PQ codebooks — is then inlined as a literal
    array, so the REWRITE itself is a pure per-row expression: mark hit
    start positions, OR the coverage window over each token, filter, and
    concat. ZERO additional shuffle — the cleanup runs map-side inside the
    scan at any corpus size.

    Overlapping occurrences union naturally (a token is dropped once).
    Documents shorter than ``n`` tokens can still match via the padded
    single gram (mirroring x26's gram definition). NULL text stays NULL.
    """
    grams = df.select(
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("g"),
    )
    bank_rows = (
        grams.groupBy("g")
        .agg(F.count("*").alias("df_"))
        .orderBy(F.col("df_").desc(), F.col("g"))
        .limit(top)
        .select("g")
        .collect()
    )
    bank = F.array(*[F.lit(r["g"]) for r in bank_rows])

    toks = tokenize(F.col(text_col))
    L = F.size(toks)
    # hits[i] (1-based): does the gram starting at token i match the bank?
    # (word_ngrams emits exactly the n_starts = max(1, L-n+1) grams.)
    hits = F.transform(
        word_ngrams(F.col(text_col), n),
        lambda g: F.array_contains(bank, g),
    )
    # covered[p] = OR of hits[p-n+1 .. p] clamped to the valid start
    # range — built by zipping n shifted copies of hits (prepend j
    # falses for shift j; zip-padding NULLs past n_starts coalesce to
    # false) so no lambda references an outer expression. The previous
    # exists(sequence(...), i -> hits[i]) form re-evaluated the whole
    # hits array per TOKEN: O(L²·n) per document.
    shifted = [hits] + [
        F.concat(F.array_repeat(F.lit(False), j), hits) for j in range(1, n)
    ]
    covered = F.transform(
        F.slice(F.arrays_zip(*shifted), 1, L),
        lambda s: reduce(
            operator.or_,
            [F.coalesce(s[str(j)], F.lit(False)) for j in range(n)],
        ),
    )
    kept = F.filter(
        F.zip_with(
            toks,
            covered,
            lambda t, c: F.struct(t.alias("t"), c.alias("c")),
        ),
        lambda e: ~e["c"],
    )
    return df.select(
        F.col(id_col),
        L.alias("n_tokens"),
        (L - F.size(kept)).alias("n_removed"),
        # concat_ws silently renders a NULL array as '' — keep NULL NULL
        F.when(
            F.col(text_col).isNotNull(),
            F.concat_ws(" ", F.transform(kept, lambda e: e["t"])),
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Line-level deduplication — within-document (x31) and cross-corpus (x32)
# ---------------------------------------------------------------------------
def dedupe_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
) -> DataFrame:
    """Within-document duplicate-line removal (the C4/CCNet cleaning pass
    that strips repeated nav/menu/footer lines inside one page): keep the
    FIRST occurrence of each exact line, preserving original order.

    Output: ``(id, n_lines, n_dupes, clean_text)``.

    Purely expression-level — a higher-order ``filter`` with the indexed
    lambda ``(x, i) -> array_position(lines, x) == i+1`` runs inside the
    scan projection: zero shuffle at any corpus size. Per-document cost is
    O(L²) in the LINE count (not chars), bounded by page size, not corpus
    size. NULL text -> NULL out. ``sep`` is a Java regex (default literal
    newline)."""
    lines = F.split(F.col(text_col), sep)
    kept = F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + F.lit(1)
    )
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("int").alias("n_dupes"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def dedupe_corpus_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
) -> DataFrame:
    """CROSS-document line deduplication (the CCNet/RefinedWeb corpus pass:
    boilerplate lines shared by thousands of pages survive in exactly one
    document). A line occurring in multiple documents is kept only in the
    smallest ``id_col`` document containing it (all of that document's
    occurrences — within-doc dedup is :func:`dedupe_lines`'s job) and
    removed everywhere else. Documents losing every line still emit a row
    with ``clean_text = ''``.

    Output: ``(id, n_lines, n_removed, clean_text)``.

    Plan shape (100 TB): posexplode is map-side; per-line ``min(doc)`` is a
    map-side-combinable hash aggregate (one shuffle on the line key);
    reassembly is one more hash aggregate on the doc key. The keeper table
    joins back by hash — Spark broadcasts it while its size estimate is
    small and falls to a sort-merge join (reusing the line-key exchange)
    when the distinct-line table outgrows the threshold. No driver
    collect; hot boilerplate lines are exactly the skewed keys AQE's
    skew-join splitting handles. NULL-text documents have no lines to
    explode and are absent from the output (run :func:`dedupe_lines` for
    per-doc NULL-in/NULL-out semantics)."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    )
    keeper = lines.groupBy("__line").agg(F.min("__id").alias("__keep_id"))
    flagged = lines.join(keeper, "__line").withColumn(
        "__keep", F.col("__id") == F.col("__keep_id")
    )
    return (
        flagged.groupBy("__id")
        .agg(
            F.count("*").cast("int").alias("n_lines"),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1))
            .cast("int")
            .alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(
                                    F.col("__pos").alias("p"),
                                    F.col("__line").alias("l"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["l"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_lines",
            "n_removed",
            "clean_text",
        )
    )


# ---------------------------------------------------------------------------
# Repetition quality metrics — the Gopher repetition-rule family
# ---------------------------------------------------------------------------
def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_dup_2gram_frac: float = 0.20,
    max_dup_3gram_frac: float = 0.18,
    max_top_2gram_cov: float = 0.20,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, the 'repetition
    removal' quality rules every pretraining corpus applies): per document,
    the fraction of word n-grams that are duplicates (1 - distinct/total,
    n=2,3), the coverage of the single most frequent 2-gram
    (``2·count/ n_tokens``), and a combined ``keep`` flag against the
    thresholds.

    Output: ``(id, n_tokens, dup_2gram_frac, dup_3gram_frac,
    top_2gram_count, top_2gram_cov, keep)``.

    Entirely expression-level (higher-order array functions inside the scan
    projection): zero shuffle. The most-frequent-2-gram search is O(G²)
    over a DOCUMENT's distinct 2-grams — bounded by document length,
    independent of corpus size. All fractions are computed as a single
    double division (+ one subtraction), so the values are bit-identical
    to any engine doing the same IEEE-754 arithmetic."""
    col = F.col(text_col)
    toks = tokenize(col)
    n_tokens = F.size(toks)
    g2, g3 = word_ngrams(col, 2), word_ngrams(col, 3)

    def dup_frac(g: Column) -> Column:
        return F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(
            g
        ).cast("double")

    top2_count = F.array_max(
        F.transform(
            F.array_distinct(g2),
            lambda x: F.size(F.filter(g2, lambda y: y == x)),
        )
    )
    dup2 = dup_frac(g2)
    dup3 = dup_frac(g3)
    top2_cov = (top2_count * 2).cast("double") / n_tokens.cast("double")
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        dup2.alias("dup_2gram_frac"),
        dup3.alias("dup_3gram_frac"),
        top2_count.alias("top_2gram_count"),
        top2_cov.alias("top_2gram_cov"),
        (
            (dup2 <= F.lit(max_dup_2gram_frac))
            & (dup3 <= F.lit(max_dup_3gram_frac))
            & (top2_cov <= F.lit(max_top_2gram_cov))
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup — screen a NEW batch against a persisted index
# ---------------------------------------------------------------------------
def lsh_candidates_vs_index(
    index_sigs: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup screening: LSH candidates between a NEW batch
    and a PERSISTED signature index — the sign-once/ingest-many dedup
    lifecycle (the accepted corpus's MinHash signatures live in a parquet
    table; every incoming crawl batch is screened against them WITHOUT
    re-signing 100 TB of corpus; mirrors the prebuilt-index contract of
    ``knn_pq``/``knn_ivfpq``).

    ``index_sigs``: ``(id, mh0..mh{n-1})`` exactly as produced by
    :func:`minhash_signature` (typically ``spark.read.parquet`` of a saved
    signature table). The new batch is signed on the fly. Candidates come
    from a banded equi-join on ``(band, packed-band-key)`` — batch × index
    is NEVER materialized; the shuffle is O((batch+index)·bands) small
    rows and AQE splits skewed buckets. ``est_jaccard`` is the standard
    MinHash agreement estimate (#agreeing hash positions / num_hashes), so
    the index side needs NO text. Multi-band collisions collapse in the
    same aggregation that computes the estimate (no extra distinct pass).

    Output: ``(new_id, index_id, est_jaccard, is_dup)`` with ``is_dup`` =
    ``est_jaccard >= threshold``."""
    num_bands = num_hashes // rows_per_band
    mh = [f"mh{j}" for j in range(num_hashes)]

    def bkey_of(b: int) -> Column:
        cols = [F.col(mh[b * rows_per_band + r]) for r in range(rows_per_band)]
        if rows_per_band <= 2:  # hashes < P < 2^30: injective bigint pack
            packed = cols[0]
            for c in cols[1:]:
                packed = packed * F.lit(1 << 30) + c
            return packed
        return F.md5(F.concat_ws("-", *[c.cast("string") for c in cols]))

    def banded(sigs: DataFrame, side: str) -> DataFrame:
        bb = F.array(
            *[
                F.struct(F.lit(b).alias("band"), bkey_of(b).alias("bkey"))
                for b in range(num_bands)
            ]
        )
        return sigs.select(
            F.col(id_col).alias(f"{side}_id"),
            F.array(*mh).alias(f"{side}_sig"),
            F.explode(bb).alias("bb"),
        ).select(f"{side}_id", f"{side}_sig", "bb.band", "bb.bkey")

    new_sigs = minhash_signature(new_df, text_col, num_hashes, k)
    cand = banded(new_sigs, "new").join(
        banded(index_sigs, "index"), ["band", "bkey"]
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("new_sig"),
            F.col("index_sig"),
            lambda a, b: (a == b).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = agree.cast("double") / F.lit(float(num_hashes))
    return (
        cand.select("new_id", "index_id", est.alias("est_jaccard"))
        .groupBy("new_id", "index_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .select(
            "new_id",
            "index_id",
            "est_jaccard",
            (F.col("est_jaccard") >= F.lit(threshold)).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe split assignment — near-dup clusters never straddle splits
# ---------------------------------------------------------------------------
def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    train_buckets: int = 8,
    val_buckets: int = 1,
    test_buckets: int = 1,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: documents are routed by the portable hash of their NEAR-DUP
    CLUSTER id (not their own id), so every member of a duplicate
    component lands in the same split — the eval-contamination failure
    mode of naive per-doc hashing (x21 detects contamination after the
    fact; this prevents the self-inflicted kind).

    Cluster labels come from :func:`duplicate_clusters` (min-label over
    the banded-LSH pair graph); documents outside any dup component are
    their own singleton cluster. Split = hash bucket over
    ``train+val+test`` buckets, reproducible across runs and engines.

    Output: ``(id, cluster, split)``. Cost: the clustering rounds (the
    dominant, already-bounded part) + one left join + a map-side hash —
    no new shuffle beyond the join."""
    total = train_buckets + val_buckets + test_buckets
    labels = duplicate_clusters(df, text_col=text_col, id_col=id_col)
    base = df.select(F.col(id_col))
    joined = base.join(labels, id_col, "left").withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.col(id_col))
    )
    bucket = F.pmod(
        portable_hash64(F.col("cluster").cast("string"), seed="split:"),
        F.lit(total),
    )
    split = (
        F.when(bucket < train_buckets, "train")
        .when(bucket < train_buckets + val_buckets, "val")
        .otherwise("test")
    )
    return joined.select(F.col(id_col), "cluster", split.alias("split"))


# ---------------------------------------------------------------------------
# Deterministic interleaved training order — shuffle without a global sort
# ---------------------------------------------------------------------------
def interleaved_order(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a GLOBAL training-order index that round-robins
    across sources (the "shuffled, domain-interleaved" epoch layout
    pretraining wants) without ever building a global sort: within each
    source, rows get a stable hash-ordered row number ``rn``; the global
    index is the CLOSED FORM ``(rn-1)·n_sources + source_index``. Consumers
    write shards ordered by ``order_idx``; two docs from one source are
    always ``n_sources`` positions apart, so no contiguous run of one
    domain ever forms.

    Scale shape: one window partitioned BY SOURCE (parallel across
    sources, never a single global partition — the trap this closed form
    exists to avoid) plus a driver-side source list (bounded like the IVF
    centroid literals: sources are a handful of domains, not data-sized).

    Output: ``(id, group, rn, order_idx)``."""
    sources = sorted(
        r[0] for r in df.select(group_col).distinct().collect()
    )
    n = len(sources)
    sidx = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(s) for s in sources]),
            F.array(*[F.lit(i) for i in range(n)]),
        ),
        F.col(group_col),
    )
    w = Window.partitionBy(group_col).orderBy(
        portable_hash64(F.col(id_col).cast("string"), seed="ord:"),
        F.col(id_col),
    )
    rn = F.row_number().over(w)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        rn.alias("rn"),
        ((rn - F.lit(1)) * F.lit(n) + sidx).cast("long").alias("order_idx"),
    )


# ---------------------------------------------------------------------------
# Corpus-level duplicated-substring detection — the window-hash variant of
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better"): their suffix-array pass finds substrings >= N chars occurring
# twice anywhere in the corpus; sliding every N-char window through a
# corpus-wide occurrence count finds exactly the same positions (a repeated
# substring of length >= N contains a repeated N-window at each of its
# starts) without a global suffix sort — the shape that distributes.
# ---------------------------------------------------------------------------
def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 20,
    key: str = "text",
    stride: int = 1,
) -> DataFrame:
    """Flag every position whose ``n``-char window occurs >= 2 times in the
    WHOLE corpus (other documents or elsewhere in the same one), merge
    overlapping flagged windows into maximal spans, and report per document
    how much text sits inside a duplicated span — the removal candidates of
    exact-substring dedup.

    Output: ``(id, n_grams, dup_positions, dup_chars, dup_frac)`` where
    ``n_grams`` is the window count (``len - n + 1``, 0 for short/NULL
    text), ``dup_positions`` counts flagged window starts, ``dup_chars``
    is the merged-span character total, and ``dup_frac`` =
    ``dup_positions / n_grams`` (NULL when the doc has no windows).

    Plan shape (100 TB): the window explode is map-side off the scan; the
    occurrence count is ONE map-side-combinable hash agg on the window key;
    flagged positions join back on the same key (count>=2 windows are a
    small minority in a clean corpus, so the join's right side is the
    filtered aggregate, not the corpus); span merge is a per-doc window
    over FLAGGED positions only. ``key='hash'`` groups by the window's
    64-bit portable hash instead of its text — the shuffle carries 8 bytes
    per window instead of ``n`` chars (collisions need ~2^32 windows per
    50% birthday odds, and a collision only over-flags one window).
    ``key='xxhash'`` is the same plan on Spark's JVM xxhash64 — much
    cheaper per window than md5 but with no ANSI-SQL twin, so it's the
    production setting where no engine-parity oracle is needed.
    ``key='text'`` keeps exact semantics for engine-parity oracles.
    NULL/short docs emit zero-stat rows, not NULLs dropped (a dedup
    report must account for every document).

    ``stride=k`` (k > 1, requires a hash key) is the 100 TB path: only
    windows whose key hash ≡ 0 (mod k) enter the count/join — 0-mod-p
    fingerprint sampling (the MOSS/winnowing family, Schleimer et al.
    2003). Selection is CONTENT-defined, so every copy of a duplicated
    substring selects the SAME windows wherever it sits — a positional
    stride would miss unaligned cross-document copies entirely. This
    cuts the shuffled row count (the exact plan's scale killer: one
    ~20-byte row per character of corpus) by k× at the cost of
    resolution: a duplicated span is detected iff it contains a selected
    window (expected selection gap k, so spans ≥ n + k chars are caught
    with probability → 1; at k=4, a missed 100-char span needs all ~81
    of its windows unselected, p ≈ 0.75^81 ≈ 1e-10). With sampling,
    ``n_grams``/``dup_positions``/``dup_frac`` count SELECTED windows —
    dup_frac stays an unbiased density estimate over the same sample
    space — and ``dup_chars`` merges selected flagged windows (each
    still covering its full n chars), an underestimate by at most the
    unselected span edges."""
    if key not in ("text", "hash", "xxhash", "poly"):
        raise ValueError(
            f"key must be 'text', 'hash', 'xxhash' or 'poly', got {key!r}"
        )
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if stride > 1 and key == "text":
        raise ValueError("stride sampling needs a hash key")

    def gkey(g: Column) -> Column:
        if key == "hash":
            return portable_hash64(g)
        if key == "xxhash":
            return F.xxhash64(g)
        return g

    length = F.length(F.col(text_col))
    totals = None
    if key == "poly":
        grams, totals = _poly_window_grams(
            df, text_col=text_col, id_col=id_col, n=n, stride=stride
        )
    else:
        grams = (
            df.select(
                F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
            )
            .select(
                "__id",
                "__t",
                F.explode(starts_of(F.col("__t"), n)).alias("__p"),
            )
            .select(
                "__id",
                "__p",
                gkey(F.col("__t").substr(F.col("__p"), F.lit(n))).alias("__k"),
            )
        )
        if stride > 1:
            # Selection happens in the SAME map-side project that computes
            # the key — unselected windows never become shuffle rows.
            grams = grams.filter(F.pmod(F.col("__k"), F.lit(stride)) == 0)
    dup_keys = (
        grams.groupBy("__k")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__k")
    )
    flagged = grams.join(dup_keys, "__k").select("__id", "__p")
    if totals is None:
        if stride > 1:
            # Denominator = SELECTED window count, computed map-side in a
            # narrow second scan (array expression, no explode, no
            # shuffle); exact so the sampled dup_frac is
            # engine-reproducible.
            t = F.col(text_col)
            n_grams_expr = F.size(
                F.filter(
                    F.transform(
                        starts_of(t, n),
                        lambda p: F.pmod(
                            gkey(t.substr(p, F.lit(n))), F.lit(stride)
                        ),
                    ),
                    lambda m: m == 0,
                )
            )
        else:
            n_grams_expr = F.when(
                F.col(text_col).isNotNull() & (length >= n), length - n + 1
            ).otherwise(F.lit(0))
        totals = df.select(
            F.col(id_col).alias("__id"),
            n_grams_expr.cast("int").alias("n_grams"),
        )
    return _merge_flagged_spans(flagged, totals, id_col=id_col, n=n)


def _merge_flagged_spans(
    flagged: DataFrame, totals: DataFrame, *, id_col: str, n: int
) -> DataFrame:
    """Shared tail of the exact-substring detectors: merge FLAGGED window
    starts ``(__id, __p)`` into maximal per-doc spans (gaps-and-islands
    over flagged rows only — a small minority in a clean corpus) and join
    the per-doc report onto ``totals`` = ``(__id, n_grams)`` so every
    document is accounted for."""
    w_prev = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("__id")
        .orderBy("__p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        flagged.withColumn("__e", F.col("__p") + F.lit(n - 1))
        .withColumn("__pmax", F.max("__e").over(w_prev))
        .withColumn(
            "__new",
            F.when(
                F.col("__pmax").isNull() | (F.col("__p") > F.col("__pmax")),
                1,
            ).otherwise(0),
        )
        .withColumn("__gid", F.sum("__new").over(w_run))
    )
    spans = isl.groupBy("__id", "__gid").agg(
        (F.max("__e") - F.min("__p") + 1).alias("__chars"),
        F.count("*").alias("__npos"),
    )
    per_doc = spans.groupBy("__id").agg(
        F.sum("__npos").cast("int").alias("dup_positions"),
        F.sum("__chars").cast("int").alias("dup_chars"),
    )
    return (
        totals.join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.coalesce("dup_positions", F.lit(0)).alias("dup_positions"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.coalesce("dup_positions", F.lit(0))
                    / F.col("n_grams").cast("double"),
                    6,
                ),
            ).alias("dup_frac"),
        )
    )


# Second polynomial base for duplicated_spans' 60-bit combined window key
# (first base is SHINGLE_POLY_BASE): two independent degree-(n-1) hashes
# h1, h2 mod P combine as h1·P + h2 < 2^60 — small enough for exact BIGINT
# replay in ANSI SQL, wide enough that birthday collisions only over-flag
# ~(windows/2^60)·windows positions (0.004% at 10^14 windows).
SPAN_POLY_BASE2 = 137


def _poly_window_grams(
    df: DataFrame, *, text_col: str, id_col: str, n: int, stride: int
):
    """Selected window keys for :func:`duplicated_spans`'s ``key='poly'``
    path: one Arrow-batched numpy kernel slides both polynomial hashes
    over each document (two int64 matmuls over a stride-tricks window
    view — no explode, no per-window substr/md5) and emits ONLY the
    windows whose combined key ≡ 0 (mod stride), plus one summary row per
    document carrying its selected-window count. Returns ``(grams,
    totals)`` = ``(__id, __p, __k)`` selected rows and ``(__id, n_grams)``
    per-doc denominators. The kernel output is lazily localCheckpoint-ed:
    three plan branches consume it (key counts, flag join, totals) and a
    mapInPandas subtree would otherwise re-run per branch — in production
    this materialization is the persisted fingerprint table."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    P = MINHASH_PRIME
    pows1 = np.array(
        [pow(SHINGLE_POLY_BASE, n - 1 - i, P) for i in range(n)],
        dtype=np.int64,
    )
    pows2 = np.array(
        [pow(SPAN_POLY_BASE2, n - 1 - i, P) for i in range(n)], dtype=np.int64
    )

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField("__id", id_field.dataType, True),
            StructField("__p", IntegerType(), True),
            StructField("__k", LongType(), True),
            StructField("__nsel", IntegerType(), True),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            ids, poss, keys, nsels = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                nsel = 0
                if text is not None and len(text) >= n:
                    codes = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    wins = np.lib.stride_tricks.sliding_window_view(codes, n)
                    h1 = (wins @ pows1) % P
                    h2 = (wins @ pows2) % P
                    k = h1 * P + h2
                    sel = (
                        np.nonzero(k % stride == 0)[0]
                        if stride > 1
                        else np.arange(len(k))
                    )
                    nsel = len(sel)
                    if nsel:
                        ids.extend([doc_id] * nsel)
                        poss.extend((sel + 1).tolist())
                        keys.extend(k[sel].tolist())
                        nsels.extend([None] * nsel)
                ids.append(doc_id)
                poss.append(None)
                keys.append(None)
                nsels.append(nsel)
            yield pd.DataFrame(
                {"__id": ids, "__p": poss, "__k": keys, "__nsel": nsels}
            )

    src = ensure_parallelism(df.select(id_col, text_col))
    out = src.mapInPandas(kernel, out_schema).localCheckpoint(eager=False)
    grams = out.filter(F.col("__p").isNotNull()).select("__id", "__p", "__k")
    totals = out.filter(F.col("__p").isNull()).select(
        "__id", F.col("__nsel").alias("n_grams")
    )
    return grams, totals


def span_fingerprint_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 20,
    stride: int = 4,
) -> DataFrame:
    """The persisted half of incremental exact-substring dedup: the
    corpus's DISTINCT selected window keys (one ``__k`` column) — built
    once, written to parquet, reused by every ingest batch. Size is
    bounded by distinct selected windows ≤ corpus_chars/stride rows of
    8 bytes; the corpus text itself is never needed again."""
    grams, _ = _poly_window_grams(
        df, text_col=text_col, id_col=id_col, n=n, stride=stride
    )
    return grams.select("__k").distinct()


def duplicated_spans_vs_index(
    batch: DataFrame,
    index_keys: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 20,
    stride: int = 4,
) -> DataFrame:
    """Incremental exact-substring dedup (the x34 contract for spans):
    flag a NEW batch's windows against the accepted corpus's persisted
    fingerprint index (:func:`span_fingerprint_index`) plus within-batch
    repeats — the corpus is never re-fingerprinted, and its text never
    re-read. Same per-document report as :func:`duplicated_spans`
    (sampled semantics: counts are over selected windows).

    Plan shape (100 TB corpus, bounded ingest batch): the batch's
    selected grams join the index on the 8-byte key — the batch side is
    small, so AQE broadcasts it against the index scan; within-batch
    repeats are one hash agg on the batch's own keys. Flag sources are
    combined with marker left-joins (an OR of two semi-joins), so a
    window duplicated BOTH ways still flags exactly once."""
    grams, totals = _poly_window_grams(
        batch, text_col=text_col, id_col=id_col, n=n, stride=stride
    )
    batch_dups = (
        grams.groupBy("__k")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__k", F.lit(1).alias("__in_batch"))
    )
    idx = index_keys.select(
        F.col(index_keys.columns[0]).alias("__k"), F.lit(1).alias("__in_idx")
    )
    flagged = (
        grams.join(idx, "__k", "left")
        .join(batch_dups, "__k", "left")
        .filter(F.col("__in_idx").isNotNull() | F.col("__in_batch").isNotNull())
        .select("__id", "__p")
    )
    return _merge_flagged_spans(flagged, totals, id_col=id_col, n=n)


def starts_of(text: Column, n: int) -> Column:
    """Window start positions 1..len-n+1 of an ``n``-char sliding window
    (empty for NULL/short text — guarded because ``sequence(1, 0)`` would
    count DOWN, not produce an empty array)."""
    length = F.length(text)
    return F.when(
        text.isNotNull() & (length >= n),
        F.sequence(F.lit(1), (length - n + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))


# ---------------------------------------------------------------------------
# Character-LM quality scoring — the CCNet/Wikipedia-LM perplexity filter
# (Wenzek et al. 2020) in its distributable char-bigram form: train a
# corpus-wide add-one-smoothed bigram model, score each document by its
# cross-entropy under that model. Gibberish/boilerplate scores high,
# fluent text low — the third quality family next to heuristics (x9) and
# repetition rules (x33).
# ---------------------------------------------------------------------------
_CHARLM_Q = 1_000_000_000  # per-term fixed-point scale (see below)


def _charlm_doc_counts(base: DataFrame):
    """The counting kernel of :func:`charlm_quality`: one numpy kernel
    per batch computes each document's distinct-bigram counts (codes →
    packed pair ints → ``np.unique`` with counts) and distinct characters
    — rows leave the kernel already reduced, so neither the per-character
    explode nor the interpreted substr lambdas ever run. Returns
    ``(db, chars)`` = ``(__id, __bg, __cnt)`` and ``(__ch,)``. The
    kernel output is lazily localCheckpoint-ed: three plan branches
    consume it (model, scoring join, vocabulary)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_field = base.schema["__id"]
    schema = StructType(
        [
            StructField("__id", id_field.dataType, True),
            StructField("__bg", StringType(), True),
            StructField("__ch", StringType(), True),
            StructField("__cnt", LongType(), True),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            ids, bgs, chs, cnts = [], [], [], []
            for doc_id, s in zip(pdf["__id"], pdf["__s"]):
                if s is None or len(s) == 0:
                    continue
                codes = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                for c in np.unique(codes).tolist():
                    ids.append(doc_id)
                    bgs.append(None)
                    chs.append(chr(c))
                    cnts.append(None)
                if len(codes) >= 2:
                    pairs = (codes[:-1] << 21) | codes[1:]
                    uniq, counts = np.unique(pairs, return_counts=True)
                    for p, n in zip(uniq.tolist(), counts.tolist()):
                        ids.append(doc_id)
                        bgs.append(chr(p >> 21) + chr(p & 0x1FFFFF))
                        chs.append(None)
                        cnts.append(n)
            yield pd.DataFrame(
                {"__id": ids, "__bg": bgs, "__ch": chs, "__cnt": cnts}
            )

    src = ensure_parallelism(base)
    out = src.mapInPandas(kernel, schema).localCheckpoint(eager=False)
    db = out.filter(F.col("__bg").isNotNull()).select(
        "__id", "__bg", "__cnt"
    )
    chars = out.filter(F.col("__ch").isNotNull()).select("__ch")
    return db, chars


def charlm_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bits-per-char cross-entropy under a corpus-trained
    add-one-smoothed character-bigram model:
    ``p(c2|c1) = (count(c1c2) + 1) / (count(c1·) + V)``, ``V`` = corpus
    distinct chars, score = ``-mean(log2 p)`` over the doc's bigrams.

    Output: ``(id, n_bigrams, bits_per_char)`` — bits NULL when the
    normalized text has < 2 chars (no bigrams to score).

    Float discipline: a per-doc SUM of log2 terms is order-dependent, and
    aggregation order is nondeterministic in every engine — so each term
    is fixed-point-quantized FIRST (``floor(log2(p) * 1e9)`` as int64),
    integer sums associate, and the quantization is the defined semantic
    (documented, not a display trick). An int64 holds ~9e18: a document
    would need ~1e8 bigrams at worst-case ~-60 bits/term to overflow.

    Plan shape (100 TB): the model is a hash agg on the BIGRAM key — at
    most |charset|² distinct keys (~1-2k for normalized text) regardless
    of corpus size, so the trained model broadcasts by construction;
    scoring is a map-side broadcast join onto per-doc bigram counts (one
    doc-key shuffle). The vocabulary size joins as a 1-row broadcast.
    This is why the BIGRAM formulation distributes where a KenLM 5-gram
    (millions of states, needs the binary model on every executor) would
    not; swap in a Pandas-UDF KenLM scorer for the high-fidelity variant.

    Each document's DISTINCT-bigram counts and distinct chars come from
    one numpy kernel (codes → pair ints → np.unique with counts) — exact
    counting, bit-identical to the per-character substr/explode
    expression form kept as the parity reference in
    tests/test_components.py, but without its interpreted Catalyst
    lambdas and one-row-per-character explode: rows leave the kernel
    already reduced to distinct pairs. Measured sf0.1: 2.8 s → ~1.2 s."""
    norm = normalize_text(F.col(text_col))
    base = df.select(F.col(id_col).alias("__id"), norm.alias("__s"))
    db, chars = _charlm_doc_counts(base)
    vocab = chars.agg(F.count_distinct("__ch").alias("__v"))
    model = db.groupBy("__bg").agg(F.sum("__cnt").alias("__c"))
    ctx = (
        model.groupBy(F.col("__bg").substr(1, 1).alias("__c1"))
        .agg(F.sum("__c").alias("__n"))
    )
    scored = (
        db.join(F.broadcast(model), "__bg")
        .join(
            F.broadcast(ctx),
            F.col("__bg").substr(1, 1) == F.col("__c1"),
        )
        .join(F.broadcast(vocab))
        .withColumn(
            "__term_q",
            F.floor(
                F.log2(
                    (F.col("__c") + 1).cast("double")
                    / (F.col("__n") + F.col("__v")).cast("double")
                )
                * F.lit(float(_CHARLM_Q))
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.sum("__cnt").cast("long").alias("n_bigrams"),
        F.sum(F.col("__cnt") * F.col("__term_q")).alias("__sum_q"),
    )
    return (
        base.select("__id")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    -F.col("__sum_q").cast("double")
                    / F.lit(float(_CHARLM_Q))
                    / F.col("n_bigrams").cast("double"),
                    6,
                ),
            ).alias("bits_per_char"),
        )
    )


def dsir_topk(
    docs: DataFrame,
    target,
    k: int = 200,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how target-like its hashed bag-of-words is, then draw a without-
    replacement sample via the Gumbel top-k trick.

    ``target`` is a boolean Column marking the seed/target subset. Both
    bag models are add-one-smoothed over ``n_buckets`` hashed unigram
    buckets; a document's log importance weight is
    ``sum_b cnt_b * (log p_target(b) - log p_raw(b))``. Every log2 term
    is fixed-point quantized (floor(log2 · 1e9) as int64, the x38
    pattern) so the per-doc sum is order-independent and engine-exact,
    and each factor quantizes SEPARATELY (no int64 product overflow at
    any corpus size). Sampling priority adds a deterministic per-doc
    Gumbel draw derived from the doc-id hash — u = (h % 1e6 + 0.5)/1e6,
    g = -log2(-log2(u)) — so the "randomness" is reproducible and
    oracle-checkable; swap the seed for fresh draws.

    100 TB shape: one token explode + hash agg (map-side combinable);
    the model is ≤ n_buckets rows and BROADCASTS by construction; the
    final top-k is a distributed TakeOrdered (per-partition heads, never
    a global window)."""
    Q = 1_000_000_000

    def q(x):
        return F.floor(F.log2(x) * Q).cast("long")

    base = docs.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    tok = base.select(
        F.col(id_col),
        target.alias("__is_t"),
        F.explode(tokenize(F.col(text_col))).alias("__token"),
    )
    dc = (
        tok.select(
            id_col,
            "__is_t",
            (portable_hash64(F.col("__token")) % n_buckets).alias("__b"),
        )
        .groupBy(id_col, "__is_t", "__b")
        .agg(F.count("*").alias("__cnt"))
    )
    raw = dc.groupBy("__b").agg(F.sum("__cnt").alias("__cr"))
    tgt = (
        dc.filter(F.col("__is_t"))
        .groupBy("__b")
        .agg(F.sum("__cnt").alias("__ct"))
    )
    totals = dc.agg(
        F.sum("__cnt").alias("__nr"),
        F.coalesce(
            F.sum(F.when(F.col("__is_t"), F.col("__cnt"))), F.lit(0)
        ).alias("__nt"),
    )
    model = (
        raw.join(tgt, "__b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__b",
            (
                q(F.coalesce(F.col("__ct"), F.lit(0)) + 1)
                - q(F.col("__cr") + 1)
                + q(F.col("__nr") + n_buckets)
                - q(F.col("__nt") + n_buckets)
            ).alias("__tq"),
        )
    )
    wt = (
        dc.join(F.broadcast(model), "__b")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("__cnt") * F.col("__tq")).alias("weight_q"),
            F.sum("__cnt").alias("n_tokens"),
        )
    )
    u = (
        portable_hash64(F.col(id_col).cast("string"), seed="dsir")
        % 1_000_000
        + 0.5
    ) / 1_000_000.0
    pri = wt.withColumn(
        "priority_q",
        F.col("weight_q")
        + F.floor(-F.log2(-F.log2(u)) * Q).cast("long"),
    )
    return pri.orderBy(
        F.col("priority_q").desc(), F.col(id_col)
    ).limit(k)


# ---------------------------------------------------------------------------
# Model-based quality filtering: corpus-trained Naive Bayes over seed labels
# ---------------------------------------------------------------------------
def nb_quality(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet/fastText-style model-based quality filter in its
    distributable form: bootstrap seed labels from a cheap integer-exact
    heuristic (16 * stopword_count >= token_count — the "looks like
    fluent English" side), train a multinomial Naive Bayes over the seed
    split in ONE token-keyed aggregation, then score every document with
    the learned log-likelihood ratio. Documents the heuristic mislabels
    get corrected by the model's token evidence — the usual bootstrap
    story: the classifier generalizes the seed rule.

    Scale shape: training is explode -> (token) hash agg — map-side
    combinable, model rows bounded by VOCABULARY, not corpus. Totals
    ride a 1-row cross-joined aggregate (no driver collect). Scoring is
    one posting-shaped join of per-doc token counts against the model.
    Per-token log-probabilities are fixed-point quantized
    (floor(log2 p * 1e9) as int64, the x38 pattern) so per-doc sums are
    order-independent and engines agree bit-for-bit."""
    Q = 1_000_000_000.0
    en_stop = LANG_MARKERS[0][1]
    norm = normalize_text(F.col(text_col))
    toks = F.filter(F.split(F.coalesce(norm, F.lit("")), " "),
                    lambda t: t != "")
    n_stop = F.aggregate(
        toks, F.lit(0),
        lambda acc, t: acc + F.when(t.isin(*en_stop), 1).otherwise(0),
    )
    lab = df.select(
        id_col,
        toks.alias("__ts"),
        F.when(
            (F.size(toks) > 0) & (n_stop * 16 >= F.size(toks)), 1
        ).otherwise(0).alias("seed_label"),
    )
    dbc = (
        lab.select(id_col, "seed_label", F.explode("__ts").alias("tok"))
        .groupBy(id_col, "seed_label", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    model = dbc.groupBy("tok").agg(
        F.sum(F.when(F.col("seed_label") == 1, F.col("cnt"))
              .otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("seed_label") == 0, F.col("cnt"))
              .otherwise(0)).alias("c0"),
    )
    tot = model.agg(
        F.sum("c1").alias("n1t"),
        F.sum("c0").alias("n0t"),
        F.count("*").alias("v"),
    )
    tq = model.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(F.log2((F.col("c1") + 1).cast("double")
                       / (F.col("n1t") + F.col("v")).cast("double"))
                * Q).cast("long").alias("tq1"),
        F.floor(F.log2((F.col("c0") + 1).cast("double")
                       / (F.col("n0t") + F.col("v")).cast("double"))
                * Q).cast("long").alias("tq0"),
    )
    pd_ = (
        dbc.join(tq, "tok")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.col("tq1")).alias("s1"),
            F.sum(F.col("cnt") * F.col("tq0")).alias("s0"),
        )
    )
    pri = lab.agg(
        F.sum(F.when(F.col("seed_label") == 1, 1).otherwise(0)).alias("nd1"),
        F.sum(F.when(F.col("seed_label") == 0, 1).otherwise(0)).alias("nd0"),
    )
    scored = (
        lab.select(id_col, "seed_label")
        .join(pd_, id_col, "left")
        .crossJoin(F.broadcast(pri))
        .select(
            id_col,
            "seed_label",
            (F.coalesce(F.col("s1"), F.lit(0))
             + F.floor(F.log2(F.col("nd1").cast("double")
                              / (F.col("nd1") + F.col("nd0"))
                              .cast("double")) * Q).cast("long")).alias("q1"),
            (F.coalesce(F.col("s0"), F.lit(0))
             + F.floor(F.log2(F.col("nd0").cast("double")
                              / (F.col("nd1") + F.col("nd0"))
                              .cast("double")) * Q).cast("long")).alias("q0"),
        )
    )
    return scored.select(
        id_col,
        "seed_label",
        F.when(F.col("q1") > F.col("q0"), 1).otherwise(0)
        .alias("pred_label"),
        F.round((F.col("q1") - F.col("q0")).cast("double") / Q, 6)
        .alias("log_odds"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination screen — benchmark n-grams folded into a
# fixed-size mergeable bitset, corpus screened with ZERO joins.
# ---------------------------------------------------------------------------
def bloom_ngram_build(
    bench_df: DataFrame,
    text_col: str = "text",
    *,
    n: int = 3,
    m_words: int = 64,
    k: int = 2,
) -> list[int]:
    """Fold a benchmark set's distinct word n-grams into a Bloom filter:
    ``m_words`` int64 words (``m_words * 64`` bits), ``k`` md5-derived
    probes per gram (portable across engines). Returns the words as a
    plain Python list — a BOUNDED artifact (m_words * 8 bytes regardless
    of benchmark size, one driver collect of m_words rows), persistable
    next to the ANN codebooks. Bits aggregate with bit_or, so shards of
    the benchmark can build partial filters and merge by OR — the
    property that makes this the 100 TB decontamination shape (Dolma-
    style) where the exact-join variant (x21) must shuffle the corpus
    against the benchmark n-gram table."""
    bits = m_words * 63  # 63 usable bits/word: bit 63 would overflow a
    # signed-int64 left shift on engines that check (DuckDB)
    grams = bench_df.select(
        F.explode(
            F.array_distinct(word_ngrams(F.col(text_col), n))
        ).alias("g")
    )
    probes = None
    for j in range(k):
        p = grams.select(
            (portable_hash64(F.col("g"), seed=f"bloom{j}:") % bits)
            .alias("pos")
        )
        probes = p if probes is None else probes.unionAll(p)
    rows = (
        probes.select(
            (F.col("pos") / 63).cast("int").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"), (F.col("pos") % 63).cast("int"),
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = [0] * m_words
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def bloom_decontaminate(
    df: DataFrame,
    bloom_words: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    k: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Screen every document's word n-grams against a prebuilt Bloom
    filter: a gram 'hits' when ALL ``k`` probe bits are set (Bloom
    semantics — false positives possible at the filter's fill rate,
    false negatives never). Output: ``(id, n_grams, n_hits, hit_frac,
    contaminated)``.

    Scale shape: the filter rides the PLAN as a literal int64 array
    (element_at + bitwise AND inside a transform over the scan's gram
    array) — no join, no broadcast variable, no shuffle; every executor
    screens its partitions independently at scan speed. The exact-match
    follow-up (x21) runs only on the flagged slice."""
    from functools import reduce as _reduce
    from operator import and_ as _and

    m_words = len(bloom_words)
    bits = m_words * 63
    lit_words = F.lit(bloom_words)

    def hit(g):
        conds = []
        for j in range(k):
            pos = portable_hash64(g, seed=f"bloom{j}:") % bits
            word = F.element_at(
                lit_words, (pos / 63).cast("int") + F.lit(1)
            )
            mask = F.call_function(
                "shiftleft",
                F.lit(1).cast("long"), (pos % 63).cast("int"),
            )
            conds.append(word.bitwiseAND(mask) != 0)
        return _reduce(_and, conds)

    grams = word_ngrams(F.col(text_col), n)
    n_grams = F.size(grams)
    n_hits = F.size(F.filter(grams, hit))
    frac = F.round(
        n_hits.cast("double") / n_grams.cast("double"), 6
    )
    # the per-gram md5 probes are CPU-heavy interpreted expressions: a
    # single-split parquet input would run them on ONE core (measured
    # 7.1 s -> sub-second at sf0.1); at real scale inputs arrive
    # well-partitioned and this is a no-op
    df = ensure_parallelism(df)
    return df.select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        n_hits.alias("n_hits"),
        frac.alias("hit_frac"),
        (frac >= F.lit(threshold)).alias("contaminated"),
    )


def save_bloom(
    spark: SparkSession, path: str, words: list[int], *, n: int, k: int
) -> None:
    """Persist a Bloom filter artifact (the decontamination screen's
    train-once/screen-many half): the words plus the (n, k) parameters a
    reader MUST reuse — probing with different hashes or gram width
    silently returns garbage, so load re-binds them together.

    Written as a 1-row parquet through Spark's Hadoop FS layer — like
    ``save_vector_index`` — so the artifact lands on s3a://, abfs:// or
    hdfs:// paths exactly like local disk (a driver-local ``open()``
    would strand it on one machine)."""
    spark.createDataFrame(
        [([int(w) for w in words], int(n), int(k))],
        "words array<long>, n int, k int",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_bloom(spark: SparkSession, path: str) -> tuple[list[int], int, int]:
    """Returns (words, n, k) — pass all three to
    :func:`bloom_decontaminate` (mismatched parameters would probe the
    wrong bits)."""
    row = spark.read.parquet(path).collect()[0]
    return list(row["words"]), int(row["n"]), int(row["k"])
