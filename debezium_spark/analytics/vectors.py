"""Vector/similarity operators over `array<float>` embedding columns.

Reference anchors: the vector logical types
(debezium-connector-common/src/main/java/io/debezium/data/vector/FloatVector.java,
DoubleVector.java:22-33) and the embedding SMT T20
(debezium-ai/debezium-ai-embeddings/.../FieldToEmbedding.java:51,57-75).

Float discipline: every reduction is an explicit left-fold over doubles in
element order, so Spark and the DuckDB oracle produce bit-identical results
(`F.aggregate` is a sequential fold; DuckDB `list_reduce` likewise).
No Python UDFs in similarity paths — only the embedding *computation* (T20)
uses an Arrow-batched pandas_udf, mirroring the reference where embedding is
an external-model call.
"""

from __future__ import annotations

import hashlib
import threading

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

EMBED_DIM = 16


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _fold_sum(col: Column) -> Column:
    return F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float vectors via in-order double folds (portable)."""
    da, db = _dvec(a), _dvec(b)
    dot = _fold_sum(F.zip_with(da, db, lambda x, y: x * y))
    return dot / (l2_norm(a) * l2_norm(b))


def l2_norm(a: Column) -> Column:
    """L2 norm as the same in-order fold the oracle uses. In join paths,
    compute this per ROW before the join (see knn_*) — recomputing both
    norms per PAIR triples the fold work for nothing."""
    da = _dvec(a)
    return F.sqrt(_fold_sum(F.transform(da, lambda x: x * x)))


def dot_product(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(_dvec(a), _dvec(b), lambda x, y: x * y))


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the query set, scan the corpus.

    Scale shape: queries are broadcast (they are small by construction), the
    corpus is scanned once, and the top-k is a per-query window on the scan's
    hash-shuffle — O(|corpus|·|queries|) compute but only ONE shuffle of
    |corpus|·|queries| slim rows. For large query sets use :func:`knn_lsh`.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    c = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("nnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


def sign_lsh_bucket(vec: Column, bits: int = 4) -> Column:
    """Axis-aligned sign-LSH bucket: bit i = sign(vec[i]); 2^bits buckets.

    The scale path for ANN: bucket once (map-side), equi-join within buckets
    instead of a cross join — candidate count drops by ~2^bits.
    """
    acc = F.lit(0)
    for i in range(bits):
        acc = acc + F.when(
            F.element_at(vec, i + 1) >= F.lit(0.0), F.lit(2 ** i)
        ).otherwise(0)
    return acc


def knn_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
        sign_lsh_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    c = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("nnorm"),
        sign_lsh_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


def _embed_text(text: str, dim: int) -> list[float]:
    """Deterministic hashed-token projection (the oracle-reproducible stand-in
    for FieldToEmbedding's model call, FieldToEmbedding.java:57-75):
    token → md5 → 60-bit h; vec[h % dim] += (h>>4)&1 ? -1 : +1.
    """
    vec = [0.0] * dim
    for tok in text.strip().split():
        h = int(hashlib.md5(f"t20:{tok}".encode()).hexdigest()[:15], 16)
        vec[h % dim] += -1.0 if (h >> 4) & 1 else 1.0
    return vec


def field_to_embedding(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """T20 FieldToEmbedding: text column → `array<float>` embedding column.

    Arrow-batched pandas_udf — the Spark shape for any real model (MiniLM /
    Ollama / Voyage in the reference's factories); the model call itself is
    swapped for a deterministic hashed projection so the correctness oracle
    can reproduce it. Batch size rides Arrow's `maxRecordsPerBatch`; the
    column never leaves the executor.
    """

    @pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        # Distinct tokens are md5'd once per batch (Zipf → high hit rate);
        # the per-doc work is then dict lookups + bucket adds.
        cache: dict[str, int] = {}

        def h_of(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = int(
                    hashlib.md5(f"t20:{tok}".encode()).hexdigest()[:15], 16
                )
                cache[tok] = h
            return h

        def emb(t: str) -> list[float]:
            vec = [0.0] * dim
            for tok in (t or "").strip().split():
                h = h_of(tok)
                vec[h % dim] += -1.0 if (h >> 4) & 1 else 1.0
            return vec

        return texts.map(emb)

    from debezium_spark.analytics.text import ensure_parallelism

    return ensure_parallelism(df, target=8).withColumn(
        out_col, embed(F.col(text_col))
    )


# ---------------------------------------------------------------------------
# IVF — trained inverted-file ANN (the FAISS-style scale path)
# ---------------------------------------------------------------------------

#: guards session-global conf save/set/restore windows (see pq_train)
_SESSION_CONF_LOCK = threading.Lock()


def ivf_train(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iterations: int = 1,
) -> DataFrame:
    """Train IVF centroids: deterministic seeds + ``iterations`` Lloyd steps.

    Returns (cell, cvec: array<double>, n_members). Every step is
    engine-portable so the DuckDB oracle reproduces centroids bit-for-bit:

    * **Seeds** — the ``n_cells`` rows with the smallest portable hash of
      their id (a deterministic pseudo-random sample); selection is a
      distributed TakeOrdered, not a full sort.
    * **Assignment** — max-cosine over the broadcast centroid set, ties
      broken by cell id.
    * **Update** — per-dimension means over components quantized to 1e-6
      by ``floor`` (no rounding-tie rule to disagree on): integer sums are
      associative, so the result is independent of partitioning/order —
      the property a 1000-executor aggregation needs anyway.

    Each iteration's centroids are localCheckpointed (n_cells rows) so the
    next assignment pass does not re-run the whole training lineage.
    """
    from debezium_spark.analytics.text import portable_hash64

    seeds = (
        vectors.select(
            F.col(id_col).alias("__sid"),
            F.col(vec_col).alias("cvec"),
            portable_hash64(F.col(id_col).cast("string"), seed="ivf:").alias("__h"),
        )
        .orderBy("__h", "__sid")
        .limit(n_cells)
    )
    # n_cells rows: collect and number them driver-side. Plan-independent
    # (a mono-id over the TakeOrdered output would silently corrupt cell
    # ids if the plan ever stopped being a single partition-0 result), and
    # the local relation skips re-running the seed-sampling lineage in
    # every subsequent assignment pass.
    seed_rows = seeds.collect()  # already in (__h, __sid) order
    # the seed rows are already in Python: hand them to the literal
    # builder directly (a createDataFrame->collect round trip through a
    # Python-pickled local relation costs seconds per call)
    assign_to = [
        {"cell": i, "cvec": list(r["cvec"])} for i, r in enumerate(seed_rows)
    ]
    cents = None
    for _ in range(iterations):
        member = _nearest_cells(vectors, assign_to, id_col, vec_col, nprobe=1)
        cents = _lloyd_update(member, vec_col)
        assign_to = cents.localCheckpoint(eager=True)
    return cents


def _lloyd_update(member: DataFrame, vec_col: str) -> DataFrame:
    """One centroid update: floor-quantized per-dimension integer means."""
    dims = member.select(
        "cell",
        F.posexplode(vec_col).alias("pos0", "val"),
    ).select(
        "cell",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast("long").alias("q"),
    )
    per_dim = dims.groupBy("cell", "pos").agg(
        (F.sum("q").cast("double") / F.lit(1000000.0) / F.count("*")).alias("cmean"),
        F.count("*").alias("n_members"),
    )
    # SQL-text lambda, not a Python F.transform lambda: PySpark's global
    # lambda-variable name counter interacts with a Catalyst defect in
    # InferFiltersFromGenerate when this agg sits above the posexplode in
    # one tree — "key not found: <attr>" whenever ANOTHER higher-order-
    # lambda query ran earlier in the session (observed a1 -> a9 on
    # Spark 4.1; either alone is fine). The parser-side lambda resolves
    # with its own fresh variables and sidesteps the collision.
    return per_dim.groupBy("cell").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, cmean))),"
            " s -> s.cmean)"
        ).alias("cvec"),
        F.first("n_members").alias("n_members"),
    )


def _nearest_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    nprobe: int,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` max-cosine cells — MAP-SIDE.

    The centroid set is n_cells rows, so it ships as a literal array of
    (cell, cvec) structs inside the plan; each vector scores all cells and
    keeps its top-nprobe with an array sort. Zero shuffle and zero row
    amplification — the previous crossJoin+window shape pushed
    corpus x n_cells rows through an exchange just to argmax 8 numbers.

    ``centroids`` may be a DataFrame (collected here — cheap for the
    JVM-backed checkpoint/parquet frames real callers pass) or an
    already-collected sequence of {cell, cvec} rows: training loops hold
    the seed rows in Python already, and a collect() of a PYTHON-pickled
    local relation pays a multi-second Python-RDD round trip per call
    (measured ~7 s for 16 rows — it was ~80% of pq_train's wall time)."""
    rows = (
        centroids.select("cell", "cvec").collect()
        if isinstance(centroids, DataFrame)
        else list(centroids)
    )
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.array(*[F.lit(float(v)) for v in r["cvec"]]).alias("cvec"),
            )
            for r in sorted(rows, key=lambda r: r["cell"])
        ]
    )

    def score(c):
        return F.struct(
            cosine_similarity(F.col(vec_col), c["cvec"]).alias("sim"),
            c["cell"].alias("cell"),
        )

    def by_sim_desc_cell_asc(a, b):
        return (
            F.when(a["sim"] > b["sim"], -1)
            .when(a["sim"] < b["sim"], 1)
            .when(a["cell"] < b["cell"], -1)
            .when(a["cell"] > b["cell"], 1)
            .otherwise(0)
        )

    best = F.slice(
        F.array_sort(F.transform(cent_arr, score), by_sim_desc_cell_asc),
        1,
        nprobe,
    )
    return (
        vectors.withColumn("__probe", F.explode(best))
        .select(*vectors.columns, F.col("__probe.cell").alias("cell"))
    )


def ivf_postings(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF posting-list artifact: every vector assigned to its
    nearest cell, in the shape knn_ivf's candidate join consumes
    (cell, nid, nvec, nnorm). Assignment is map-side against literal
    centroids — build once, persist via save_vector_index, serve many."""
    return _nearest_cells(vectors, centroids, id_col, vec_col,
                          nprobe=1).select(
        F.col("cell"),
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("nnorm"),
    )


def ivf_add(
    new_vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: assign a NEW batch to the existing
    centroids and return posting rows to append — no retraining, no
    touch of the already-indexed corpus. This is the serving-side write
    path at scale: the nightly/streaming ingest appends postings (an
    idempotent MERGE on nid works fine) while centroids retrain on
    whatever cadence drift demands. Assignment quality for the batch is
    identical to a full rebuild by construction — cell membership is a
    pure function of (vector, centroids)."""
    return ivf_postings(new_vectors, centroids, id_col=id_col,
                        vec_col=vec_col)


def knn_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    iterations: int = 1,
    centroids: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: corpus vectors live in their nearest cell; each query probes
    its ``nprobe`` nearest cells and ranks exact cosine inside them.

    Scale shape: training touches the corpus twice (seed sample + one
    assignment pass); search shuffles only cell-matched candidate pairs —
    ~|corpus|·nprobe/n_cells per query instead of |corpus|. Centroids are
    localCheckpointed (8 rows) so corpus- and query-assignment don't
    re-run the training subtree.

    Train-once/search-many: pass prebuilt ``centroids`` (ivf_train's
    shape) and optionally ``postings`` (ivf_postings' shape, e.g. the
    persisted artifact plus ivf_add deltas) and nothing retrains or
    re-assigns in-call. Postings bake in the cell assignments of the
    centroids that produced them, so passing postings WITHOUT those
    centroids is an error — freshly trained centroids would probe
    mismatched cells and silently return wrong neighbors.
    """
    if postings is not None and centroids is None:
        raise ValueError(
            "postings were built against a specific centroid set; pass the "
            "matching `centroids` with them (fresh training would mismatch "
            "the cell ids baked into the postings)"
        )
    cents = (
        centroids.localCheckpoint(eager=True)
        if centroids is not None
        else ivf_train(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            iterations=iterations,
        ).localCheckpoint(eager=True)
    )
    corpus = (
        postings
        if postings is not None
        else ivf_postings(vectors, cents, id_col=id_col, vec_col=vec_col)
    )
    probes = _nearest_cells(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col("cell"),
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# PQ — product quantization (the 100 TB ANN memory path: IVF finds the
# cells, PQ shrinks the vectors living in them)
# ---------------------------------------------------------------------------

def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance, folded in element order (engine-portable: the
    DuckDB twin folds the same zip in the same order, so assignments and
    ties agree bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_train(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Train per-subspace PQ codebooks: the vector splits into ``m``
    contiguous subspaces of ``dim/m`` dims; each subspace gets ``k``
    codewords from deterministic seeds + ONE floor-quantized Lloyd step —
    the same engine-portable training discipline as ivf_train (hash-sampled
    seeds, min-L2 assignment with code-ascending tie-break, per-dimension
    integer means), so a SQL oracle reproduces every codeword bit-for-bit.

    Returns (m, code, cvec, n_members). At 100 TB this is the memory
    story: a 64-dim float64 vector is 512 bytes; its PQ form is ``m`` small
    codes (here 4 bytes) + one shared m*k-codeword codebook — a 128x
    shrink that turns an ANN candidate scan into a cache-resident table
    walk. Training cost is one seed TakeOrdered + one assignment pass per
    subspace, all map-side against literal codebooks.
    """
    from debezium_spark.analytics.text import portable_hash64

    s = dim // m
    spark = vectors.sparkSession
    books = []
    for mi in range(m):
        sub = vectors.select(
            F.col(id_col),
            F.slice(F.col(vec_col), mi * s + 1, s).alias(vec_col),
        )
        seeds = (
            sub.select(
                F.col(id_col).alias("__sid"),
                F.col(vec_col).alias("cvec"),
                portable_hash64(
                    F.col(id_col).cast("string"), seed=f"pq{mi}:"
                ).alias("__h"),
            )
            .orderBy("__h", "__sid")
            .limit(k)
        )
        seed_rows = seeds.collect()  # k rows, already in (__h, __sid) order
        assign_to = [
            {"cell": i, "cvec": list(r["cvec"])}
            for i, r in enumerate(seed_rows)
        ]
        member = _nearest_code(sub, assign_to, vec_col)
        cents = _lloyd_update(member, vec_col)
        books.append(cents.withColumn("m", F.lit(mi)))
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    # Materialize the codebook table (m*k rows — bounded by construction),
    # sparing every consumer the 8-branch training subtree. The
    # materialization runs with constraint propagation off: Catalyst's
    # UnionBase.rewriteConstraints crashes with
    # "java.util.NoSuchElementException: key not found: <subspace alias>"
    # rewriting a constraint that embeds this tree's higher-order
    # expressions (ZipWith/ArrayAggregate inside the min-L2 assignment)
    # across the 8-branch union — and only when another higher-order-
    # lambda query ran earlier in the same session (observed a1 -> a9 on
    # Spark 4.1; either alone is fine — the failure tracks session
    # expression-id numbering, i.e. an optimizer defect, not this plan).
    # Constraint propagation only prunes redundant filters; this tiny
    # tree has none to prune.
    key = "spark.sql.constraintPropagation.enabled"
    # The save/set/restore of a SESSION-global conf must not interleave:
    # two concurrent pq_train calls (train-many callers overlap
    # independent jobs per guide §2.6) would have the second read the
    # first's "false" as the value to restore, leaving constraint
    # propagation off for the whole session — which silently strips
    # IsNotNull inference from every later plan.
    with _SESSION_CONF_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            return out.select(
                "m", F.col("cell").alias("code"), "cvec", "n_members"
            ).localCheckpoint(eager=True)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def _codebook_literal(codebooks: DataFrame, mi: int) -> tuple:
    """Collect one subspace's codewords into (codes-sorted literal array,
    python rows) — the map-side shape both encode and search use."""
    rows = sorted(
        codebooks.filter(F.col("m") == mi).select("code", "cvec").collect(),
        key=lambda r: r["code"],
    )
    arr = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in r["cvec"]])
            for r in rows
        ]
    )
    return arr, rows


def _nearest_code(sub: DataFrame, codebook, vec_col: str) -> DataFrame:
    """Min-L2 codeword assignment — map-side literal codebook, zero
    shuffle, ties broken by ascending code (same idiom as _nearest_cells).
    ``codebook`` is a DataFrame or an already-collected sequence of
    {cell, cvec} rows (see _nearest_cells on why training passes rows)."""
    rows = (
        codebook.select("cell", "cvec").collect()
        if isinstance(codebook, DataFrame)
        else list(codebook)
    )
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.array(*[F.lit(float(v)) for v in r["cvec"]]).alias("cvec"),
            )
            for r in sorted(rows, key=lambda r: r["cell"])
        ]
    )

    def score(c):
        return F.struct(
            sq_l2(F.col(vec_col), c["cvec"]).alias("d2"),
            c["cell"].alias("cell"),
        )

    best = F.array_sort(F.transform(cent_arr, score))[0]
    return sub.withColumn("cell", best["cell"])


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as ``m`` codes (argmin-L2 per subspace) — one
    map-side pass, no shuffle; codes ride with the row as array<int>."""
    s = dim // m
    out = vectors
    code_cols = []
    for mi in range(m):
        arr, rows = _codebook_literal(codebooks, mi)
        sub = F.slice(F.col(vec_col), mi * s + 1, s)
        scored = F.transform(
            arr,
            lambda cv, i: F.struct(
                sq_l2(sub, cv).alias("d2"), i.alias("code")
            ),
        )
        code_cols.append(F.array_sort(scored)[0]["code"])
    return out.withColumn(
        "codes", F.array(*code_cols).cast("array<int>")
    ).select(id_col, vec_col, "codes")


def knn_pq(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    rerank: int | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric scoring: the query stays exact, each corpus
    vector is replaced by its PQ reconstruction (its subspace codewords
    concatenated), and candidates rank by cosine against that
    reconstruction — the textbook asymmetric-distance computation with the
    lookup tables inlined as literal codebooks.

    With ``rerank=R`` (the production shape) the ADC pass only GENERATES
    candidates: each query keeps its top-R by reconstruction score, and
    only those R rows fetch their exact vectors for the final top-k — the
    memory win stands (the full scan touches 4-byte codes, exact vectors
    load for R rows per query), and recall recovers from the quantization
    loss (measured on the fixtures: 0.34 pure-ADC → 0.78 with R=50 at
    m=8, k=16, i.e. 32-bit codes).

    Scale shape: corpus side carries only codes (the broadcast-NL join
    ships m*k codewords once inside the plan, not per row); query side is
    tiny and broadcast, same as knn_bruteforce; the rerank join touches
    R rows per query. No shuffle of the corpus beyond the per-query
    top-R/top-k windows.

    Train-once/search-many (the production lifecycle — retraining per
    query would be absurd at 100 TB): pass pre-trained ``codebooks``
    (pq_train's shape) and optionally pre-encoded ``codes``
    (pq_encode's shape: id_col, vec_col, codes array<int>) and no
    training/encoding runs inside the search; see save_vector_index /
    load_vector_index for the parquet round-trip.
    """
    books = (
        codebooks
        if codebooks is not None
        else pq_train(
            vectors, id_col=id_col, vec_col=vec_col, m=m, k=n_codes, dim=dim
        ).localCheckpoint(eager=True)
    )
    enc = (
        codes
        if codes is not None
        else pq_encode(
            vectors, books, id_col=id_col, vec_col=vec_col, m=m, dim=dim
        )
    )
    recon_parts = []
    for mi in range(m):
        arr, _ = _codebook_literal(books, mi)
        recon_parts.append(F.element_at(arr, F.col("codes")[mi] + 1))
    recon = F.concat(*recon_parts)
    corpus = enc.select(
        F.col(id_col).alias("nid"), recon.alias("nvec")
    ).withColumn("nnorm", l2_norm(F.col("nvec")))
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("nid") != F.col("qid"))
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("nvec"))
            / (F.col("qnorm") * F.col("nnorm")),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
        )
    cands = (
        scored.withColumn("r1", F.row_number().over(w))
        .filter(F.col("r1") <= rerank)
        .select("qid", "qvec", "qnorm", "nid")
    )
    exact_side = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("evec")
    ).withColumn("enorm", l2_norm(F.col("evec")))
    reranked = cands.join(exact_side, "nid").withColumn(
        "sim",
        dot_product(F.col("qvec"), F.col("evec"))
        / (F.col("qnorm") * F.col("enorm")),
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


def knn_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    iterations: int = 1,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    rerank: int = 50,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The full production ANN composition — IVF routes, PQ shrinks,
    exact rerank restores precision:

    1. IVF: corpus vectors live in their max-cosine cell; each query
       probes its ``nprobe`` nearest cells — the candidate scan touches
       ~|corpus|·nprobe/n_cells rows, not |corpus|;
    2. PQ: within the probed cells, candidates are scored against the
       query via their 32-bit PQ codes' reconstruction (the scan reads
       codes, not vectors — the memory story at 100 TB);
    3. rerank: each query's top-``rerank`` candidates fetch their exact
       vectors for the final exact-cosine top-k.

    Both trainings are the deterministic engine-portable pipelines
    (ivf_train / pq_train), so the SQL oracle replays the whole composed
    index bit-for-bit.

    Train-once/search-many: pre-trained ``centroids`` (ivf_train's shape),
    ``codebooks`` (pq_train's) and pre-encoded ``codes`` (pq_encode's)
    skip the in-call training — the production lifecycle; see
    save_vector_index / load_vector_index for the parquet round-trip.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_train(
            vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            iterations=iterations,
        ).localCheckpoint(eager=True)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_train(
            vectors, id_col=id_col, vec_col=vec_col, m=m, k=n_codes, dim=dim
        ).localCheckpoint(eager=True)
    )

    enc = (
        codes
        if codes is not None
        else pq_encode(
            vectors, books, id_col=id_col, vec_col=vec_col, m=m, dim=dim
        )
    )
    corpus_cells = _nearest_cells(
        enc.withColumnRenamed("codes", "__codes"),
        cents, id_col, vec_col, nprobe=1,
    )
    recon_parts = []
    for mi in range(m):
        arr, _ = _codebook_literal(books, mi)
        recon_parts.append(F.element_at(arr, F.col("__codes")[mi] + 1))
    recon = F.concat(*recon_parts)
    corpus = corpus_cells.select(
        "cell",
        F.col(id_col).alias("nid"),
        recon.alias("rvec"),
    ).withColumn("rnorm", l2_norm(F.col("rvec")))

    probes = _nearest_cells(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        "cell",
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    ascored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn(
            "asim",
            dot_product(F.col("qvec"), F.col("rvec"))
            / (F.col("qnorm") * F.col("rnorm")),
        )
    )
    w1 = Window.partitionBy("qid").orderBy(F.col("asim").desc(), F.col("nid"))
    cands = (
        ascored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= rerank)
        .select("qid", "qvec", "qnorm", "nid")
    )
    exact_side = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("evec")
    ).withColumn("enorm", l2_norm(F.col("evec")))
    reranked = cands.join(exact_side, "nid").withColumn(
        "sim",
        dot_product(F.col("qvec"), F.col("evec"))
        / (F.col("qnorm") * F.col("enorm")),
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# Index persistence — train once, serve many (the production ANN lifecycle).
# The artifacts are tiny relative to the corpus (centroids: n_cells rows,
# codebooks: m*k rows) except codes (one row per corpus vector — but 4-32
# bytes of payload each), so plain parquet is the right store: the searcher
# broadcast-collects centroids/codebooks exactly as the in-call path does,
# and codes scan columnar with the id column for the rerank join.
# ---------------------------------------------------------------------------

_INDEX_PARTS = ("centroids", "codebooks", "codes", "postings")


def save_vector_index(
    path: str,
    *,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> None:
    """Persist any subset of ANN index artifacts under ``path`` as parquet
    (one subdirectory per artifact). Overwrites prior artifacts of the
    same kind; absent kinds are left untouched."""
    for name, df in (
        ("centroids", centroids),
        ("codebooks", codebooks),
        ("codes", codes),
        ("postings", postings),
    ):
        if df is not None:
            df.write.mode("overwrite").parquet(f"{path}/{name}")


def load_vector_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Load whichever index artifacts exist under ``path``; keys are the
    subset of {centroids, codebooks, codes} found on disk — pass them
    straight to knn_pq / knn_ivfpq's prebuilt-index params.

    Existence is probed through the Hadoop FileSystem layer (the same one
    ``save_vector_index`` writes through), so non-local URIs (s3://,
    hdfs://, file:/-prefixed) resolve exactly like the save did — an
    os.path probe would see nothing there and silently hand callers an
    empty dict, making knn_pq/knn_ivfpq retrain instead of serving the
    saved index. Raises FileNotFoundError when ``path`` holds no artifact
    at all, for the same reason: silence here means retraining later."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    out: dict[str, DataFrame] = {}
    for name in _INDEX_PARTS:
        sub = f"{path.rstrip('/')}/{name}"
        jpath = jvm.org.apache.hadoop.fs.Path(sub)
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            out[name] = spark.read.parquet(sub)
    if not out:
        raise FileNotFoundError(
            f"no ANN index artifacts ({', '.join(_INDEX_PARTS)}) under {path!r}"
        )
    return out


def semdedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iterations: int = 1,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup — semantic (embedding-space) deduplication via cluster
    pruning (Abbas et al. 2023, arXiv:2303.09540): k-means the corpus,
    compute pairwise cosine ONLY within each cluster, and mark a vector a
    semantic duplicate when some same-cluster vector with a smaller id
    sits within ``threshold`` cosine (deterministic keep-lowest-id, the
    same keep rule as exact dedup's x4).

    This is the third dedup regime next to MinHash/LSH (surface n-grams)
    and SimHash: near-duplicate MEANING with different wording, the gap
    the SemDeDup paper shows LSH cannot close. Complements a6's
    sign-LSH-bucketed cosine pairs: k-means cells give recall that random
    hyperplane buckets lose at high thresholds, at the price of a
    training pass.

    Scale shape: training is :func:`ivf_train` (map-side literal-centroid
    assignment, integer-quantized means); the pairwise stage self-joins
    WITHIN cells only — never all-pairs. ``n_cells`` scales with the
    corpus (the paper uses 50k clusters for 5B embeddings) precisely to
    bound per-cell pair counts; AQE's skew-join splits any hot cell.
    Per-row norms are computed once before the join and carried through a
    localCheckpoint barrier so plan inlining cannot re-fold them per pair.

    Pass ``centroids`` (the ``ivf_train`` / ``load_vector_index`` shape)
    to reuse a trained index — train-once/dedup-many, same lifecycle as
    ``knn_ivf``'s prebuilt path.

    The pairwise stage runs as a numpy kernel behind ONE applyInPandas
    over the cell grouping (``_semdedup_arrow``) — in-cell pair counts
    are quadratic in cell size and Catalyst evaluates the per-pair fold
    lambdas interpreted, which makes pair SCORING (not the shuffle, not
    the training) the stage's whole cost, exactly as x6's LSH pair
    emission before its Arrow kernel. The kernel folds dot/norm sums with
    ``np.cumsum`` — the same left-to-right IEEE addition order as the
    column-expression fold — so both variants (and the relational
    replay) agree bit-for-bit. Non-integral id columns take the
    pure-expression variant (``_semdedup_expr``; the kernel's output
    schema is ``long``). Zero-norm vectors are undefined input in every
    variant (cosine has no value there); the kernel never marks them
    duplicates.

    Returns (``id_col``, cell, is_dup) for every input vector.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_train(
            vectors,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            iterations=iterations,
        )
    )
    member = _nearest_cells(vectors, cents, id_col, vec_col, nprobe=1)
    from pyspark.sql import types as T

    variant = (
        _semdedup_arrow
        if isinstance(
            vectors.schema[id_col].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )
        else _semdedup_expr
    )
    return variant(member, id_col, vec_col, threshold)


def _semdedup_expr(
    member: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Pure-expression pairwise stage of :func:`semdedup`: a within-cell
    self-join scored by column folds — the route for non-integral ids,
    and the spec the numpy kernel is tested against."""
    e = member.select(
        F.col("cell"),
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__n"),
    ).localCheckpoint(eager=True)
    a, b = e.alias("sda"), e.alias("sdb")
    cos = dot_product(F.col(f"sda.{vec_col}"), F.col(f"sdb.{vec_col}")) / (
        F.col("sda.__n") * F.col("sdb.__n")
    )
    dups = (
        a.join(
            b,
            (F.col("sda.cell") == F.col("sdb.cell"))
            & (F.col(f"sda.{id_col}") < F.col(f"sdb.{id_col}")),
        )
        .where(cos >= F.lit(float(threshold)))
        .select(F.col(f"sdb.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        member.join(dups, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def _semdedup_arrow(
    member: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Numpy pairwise-cosine kernel for :func:`semdedup`: one applyInPandas
    per k-means cell, j-blocked so memory stays ~64 MB per task regardless
    of cell size. Dot and norm sums use ``np.cumsum`` along the dimension
    axis — the identical left-to-right IEEE addition order as the
    expression fold (0.0-init fold ≡ cumsum: 0.0+x == x) — so the verdicts
    match the expression variant bit-for-bit."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    out_schema = f"{id_col} long, cell int, is_dup boolean"

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy(np.int64)
        cell = np.full(len(pdf), int(pdf["cell"].iloc[0]), dtype=np.int32)
        vec_ok = pdf[vec_col].notna().to_numpy()
        dup = np.zeros(len(pdf), dtype=bool)
        if int(vec_ok.sum()) >= 2:
            V = np.stack(pdf.loc[vec_ok, vec_col].to_numpy()).astype(
                np.float64
            )
            n, d = V.shape
            norm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
            denom_ok = norm > 0.0
            sub_dup = np.zeros(n, dtype=bool)
            block = max(1, (64 * 2**20) // (8 * n * d))
            with np.errstate(divide="ignore", invalid="ignore"):
                for j0 in range(1, n, block):  # position 0 is never a dup
                    j1 = min(j0 + block, n)
                    prod = V[:, None, :] * V[None, j0:j1, :]
                    dots = np.cumsum(prod, axis=2)[:, :, -1]
                    cos = dots / (norm[:, None] * norm[None, j0:j1])
                    cos[~denom_ok, :] = -np.inf
                    cos[:, ~denom_ok[j0:j1]] = -np.inf
                    ii = np.arange(n)[:, None]
                    jj = np.arange(j0, j1)[None, :]
                    sub_dup[j0:j1] |= ((cos >= thr) & (ii < jj)).any(axis=0)
            dup[vec_ok] = sub_dup
        return pd.DataFrame({id_col: ids, "cell": cell, "is_dup": dup})

    return (
        member.select(F.col(id_col), F.col(vec_col), F.col("cell"))
        .groupBy("cell")
        .applyInPandas(emit, out_schema)
    )


# ---------------------------------------------------------------------------
# Cluster-balanced coreset sampling — diversity-aware data selection
# ---------------------------------------------------------------------------
def cluster_balanced_sample(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    per_cell: int = 25,
) -> DataFrame:
    """Diversity-balanced subset selection in embedding space: route every
    vector to its nearest trained centroid, then keep at most ``per_cell``
    vectors per cell in portable-hash order — so one mega-cluster of
    near-identical content cannot dominate the training sample (the
    cluster-balanced counterpart of the per-SOURCE quota ``x24``; SemDeDup
    prunes near-twins, this caps whole REGIONS of the space).

    ``centroids``: ``(cell, cvec)`` from :func:`ivf_train` (or loaded via
    :func:`load_vector_index`) — train-once/sample-many. Routing is the
    same literal-centroid map-side argmax as ``knn_ivf`` (zero shuffle,
    zero row amplification); the cap is ONE shuffle on the cell key, and
    the hash order makes the draw reproducible across runs and engines.
    Output: ``(id, cell)`` of the kept vectors."""
    from debezium_spark.analytics.text import portable_hash64

    assigned = _nearest_cells(vectors, centroids, id_col, vec_col, nprobe=1)
    w = Window.partitionBy("cell").orderBy(
        portable_hash64(F.col(id_col).cast("string"), seed="cbs:"),
        F.col(id_col),
    )
    return (
        assigned.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= per_cell)
        .select(F.col(id_col), F.col("cell").cast("int").alias("cell"))
    )


# ---------------------------------------------------------------------------
# MMR diversified rerank — relevance/diversity tradeoff over bounded top-N
# ---------------------------------------------------------------------------
def mmr_rerank(
    candidates: DataFrame,
    *,
    k: int = 5,
    lam: float = 0.7,
    qid_col: str = "qid",
    id_col: str = "nid",
    rel_col: str = "sim",
    vec_col: str = "nvec",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) rerank:
    greedily pick ``k`` of each query's candidates maximizing
    ``lam·rel − (1−lam)·max_sim_to_already_selected`` — the standard
    diversity pass after a kNN retrieval (near-identical top hits collapse
    to one representative).

    Scale shape: the retrieval stage already bounded candidates to top-N
    per query, so the quadratic part is N² per query, NOT corpus-sized.
    Candidate-pair cosines are computed by the same expression-level
    fold as every other cosine here (bit-identical to the oracle's), via a
    per-query self-join (one qid shuffle, ≤N² slim rows per query); the
    greedy loop itself is pure control flow over those doubles inside ONE
    cogrouped applyInPandas — each query group independent, thousands of
    queries rerank in parallel, no driver collect.

    Output: ``(qid, nid, rank, mmr)`` — mmr rounded to 6 for display (the
    selection uses full precision). Candidates must carry non-NULL,
    non-zero-norm vectors (kNN retrieval output always does) — a NULL
    pairwise cosine would poison that query's greedy comparisons."""
    import pandas as pd

    qid_t = candidates.schema[qid_col].dataType.simpleString()
    nid_t = candidates.schema[id_col].dataType.simpleString()
    left = candidates.select(
        F.col(qid_col).alias("__q"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
    )
    right = candidates.select(
        F.col(qid_col).alias("__q"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
    )
    pairs = (
        left.join(right, "__q")
        .filter(F.col("a") < F.col("b"))
        .select(
            "__q", "a", "b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("ps"),
        )
    )
    cand = candidates.select(
        F.col(qid_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rel_col).cast("double").alias("__rel"),
    )
    one_minus = 1.0 - lam

    def greedy(key, cdf: pd.DataFrame, pdf: pd.DataFrame):
        psim = {
            (a, b): s for a, b, s in zip(pdf["a"], pdf["b"], pdf["ps"])
        }

        def pair(u, v):
            return psim[(u, v)] if u < v else psim[(v, u)]

        rem = dict(zip(cdf["__id"], cdf["__rel"]))
        selected: list = []
        out = []
        while rem and len(selected) < k:
            best = None
            for nid, rel in rem.items():
                maxsim = max(
                    (pair(nid, s) for s in selected), default=0.0
                )
                score = lam * rel - one_minus * maxsim
                cur = (-score, nid)
                if best is None or cur < best[0]:
                    best = (cur, nid, score)
            _, nid, score = best
            selected.append(nid)
            del rem[nid]
            out.append((key[0], nid, len(selected), score))
        return pd.DataFrame(
            out, columns=["qid", "nid", "rank", "mmr"]
        )

    schema = f"qid {qid_t}, nid {nid_t}, rank int, mmr double"
    ranked = (
        cand.groupBy("__q")
        .cogroup(pairs.groupBy("__q"))
        .applyInPandas(greedy, schema)
    )
    # Display rounding in the JVM layer (HALF_UP, matching the oracle's
    # round()) — Python round() is half-even and would skew ties.
    return ranked.withColumn("mmr", F.round("mmr", 6))


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the third compression point on the ANN
# memory/recall curve, between exact floats and PQ codes. Reference anchor:
# the vector logical types the connectors emit
# (debezium-connector-common/src/main/java/io/debezium/data/vector/
# DoubleVector.java:22-33) are what a downstream feature store compresses;
# FAISS's ScalarQuantizer(QT_8bit) is the public model for the codec.
# ---------------------------------------------------------------------------


def sq8_train(
    vectors: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension quantization bounds: one posexplode + a dim-keyed
    hash agg (the only shuffle, keyed on ≤``dim`` values). Returns
    (pos, mn, mx, delta) with ``delta = (mx - mn) / 256`` — the bucket
    width of an 8-bit uniform quantizer.

    Engine-portable by construction: min/max over doubles are exact, and
    the delta division is one IEEE op, so a SQL replay reproduces every
    bound bit-for-bit (no Lloyd iterations, unlike PQ/IVF training).

    Scale shape: the explode is map-side; the agg reduces to ``dim`` rows
    (64 here) regardless of corpus size — partial aggregation means each
    task ships at most ``dim`` (min,max) pairs to the shuffle. The result
    is an index artifact (persist via save_vector_index-style parquet) of
    ``dim`` rows, broadcast as literals at encode/search time.
    """
    return (
        vectors.select(
            F.posexplode(_dvec(F.col(vec_col))).alias("pos0", "v")
        )
        .groupBy((F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .withColumn("delta", (F.col("mx") - F.col("mn")) / F.lit(256.0))
    )


def _sq8_literals(bounds: DataFrame) -> tuple:
    """Collect the per-dim bounds (≤dim rows — bounded by the vector
    width, never the corpus) into literal arrays for map-side use."""
    rows = sorted(bounds.collect(), key=lambda r: r["pos"])
    mn = F.array(*[F.lit(float(r["mn"])) for r in rows])
    delta = F.array(*[F.lit(float(r["delta"])) for r in rows])
    return mn, delta


def sq8_encode(
    vectors: DataFrame,
    bounds: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``dim`` uint8 codes (stored as array<int>;
    parquet's byte-packing keeps them 1 byte each on disk):
    ``code = clamp(floor((v - mn) / delta), 0, 255)`` per dimension —
    map-side against literal bounds, zero shuffle. A 64-dim float64
    vector (512 B) becomes 64 B: 8x smaller, and unlike PQ the decode
    is a fused multiply-add, not a codebook gather."""
    mn, delta = _sq8_literals(bounds)
    codes = F.transform(
        _dvec(F.col(vec_col)),
        lambda x, i: F.when(
            F.element_at(delta, i + 1) == 0.0, F.lit(0.0)
        )
        .otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.floor(
                        (x - F.element_at(mn, i + 1))
                        / F.element_at(delta, i + 1)
                    ).cast("double"),
                ),
            )
        )
        .cast("int"),
    )
    return vectors.select(id_col, vec_col, codes.alias("codes"))


def knn_sq8(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int | None = None,
    bounds: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """SQ8 ANN via asymmetric scoring: queries stay exact; each corpus
    vector is replaced by its dequantized reconstruction
    ``mn + (code + 0.5) * delta`` (bucket midpoint) and candidates rank
    by cosine against it. With ``rerank=R`` the quantized pass only
    generates candidates and the final top-k is exact — same
    candidate/rerank discipline as knn_pq, but the scan reads 1 byte/dim
    instead of m codes, and recall loss is far smaller (8 bits/dim vs
    32 bits/vector).

    Scale shape: bounds ride as 2*dim literals inside the plan (no join
    for the codebook), the query side broadcasts, and the only corpus
    shuffle is the per-query top-R/top-k window. Train-once/search-many:
    pass pre-trained ``bounds`` (sq8_train's shape) and pre-encoded
    ``codes`` (sq8_encode's shape) and nothing retrains in-call.
    """
    b = (
        bounds
        if bounds is not None
        else sq8_train(vectors, vec_col=vec_col).localCheckpoint(eager=True)
    )
    enc = (
        codes
        if codes is not None
        else sq8_encode(vectors, b, id_col=id_col, vec_col=vec_col)
    )
    mn, delta = _sq8_literals(b)
    recon = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(mn, i + 1)
        + (c.cast("double") + F.lit(0.5)) * F.element_at(delta, i + 1),
    )
    corpus = enc.select(
        F.col(id_col).alias("nid"), recon.alias("rvec")
    ).withColumn("rnorm", l2_norm(F.col("rvec")))
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    scored = corpus.join(
        F.broadcast(q), F.col("nid") != F.col("qid")
    ).withColumn(
        "sim",
        dot_product(F.col("qvec"), F.col("rvec"))
        / (F.col("qnorm") * F.col("rnorm")),
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
        )
    cands = (
        scored.withColumn("r1", F.row_number().over(w))
        .filter(F.col("r1") <= rerank)
        .select("qid", "qvec", "qnorm", "nid")
    )
    exact_side = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("evec")
    ).withColumn("enorm", l2_norm(F.col("evec")))
    reranked = cands.join(exact_side, "nid").withColumn(
        "sim",
        dot_product(F.col("qvec"), F.col("evec"))
        / (F.col("qnorm") * F.col("enorm")),
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization — the far end of the compression curve
# ---------------------------------------------------------------------------
def binq_train(vectors: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension sign thresholds for 1-bit quantization: the midrange
    ``(min + max) / 2``. Midrange over min/max (not the mean) keeps the
    artifact engine-portable bit-for-bit — extrema are exact, a
    distributed float mean is not associative. Same shape as sq8_train:
    one posexplode, one dim-keyed agg, ``dim`` rows out regardless of
    corpus size."""
    return (
        vectors.select(
            F.posexplode(_dvec(F.col(vec_col))).alias("pos0", "v")
        )
        .groupBy((F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(((F.min("v") + F.max("v")) / F.lit(2.0)).alias("thr"))
    )


def _binq_threshold_sql(thresholds: DataFrame) -> str:
    rows = sorted(thresholds.collect(), key=lambda r: r["pos"])
    return "array(" + ", ".join(f"{float(r['thr'])!r}D" for r in rows) + ")"


def binq_encode(
    vectors: DataFrame,
    thresholds: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack each vector into ``ceil(dim/64)`` sign words: bit ``j`` of
    word ``w`` is 1 iff ``v[64w+j] > thr[64w+j]``. A 64-dim float64
    vector (512 B) becomes ONE long (8 B) — 64x; the whole expression is
    nested higher-order aggregates over plan-literal thresholds, so
    encoding is a map-side codegen pass with zero shuffle and zero
    Python."""
    dim = thresholds.count()
    nwords = (dim + 63) // 64
    tlit = _binq_threshold_sql(thresholds)
    words = F.expr(
        f"transform(sequence(0, {nwords - 1}), w -> "
        f"  aggregate(sequence(0, 63), 0L, (acc, j) -> acc + "
        f"    IF(w * 64 + j < {dim} AND "
        f"       CAST(element_at({vec_col}, w * 64 + j + 1) AS DOUBLE)"
        f"         > element_at({tlit}, w * 64 + j + 1), "
        f"       shiftleft(1L, j), 0L)))"
    )
    return vectors.select(id_col, vec_col, words.alias("words"))


def _hamming(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def knn_binary(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 30,
    thresholds: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Hamming-space ANN over 1-bit codes: queries and corpus are both
    sign-quantized (symmetric), candidates rank by
    ``popcount(q XOR n)`` ascending, and the final top-k is an exact
    cosine rerank of the top-``rerank`` — the same candidate/rerank
    discipline as knn_pq/knn_sq8 at 1 bit per dimension.

    Scale shape: the index is 8 bytes per vector per 64 dims — a billion
    64-dim vectors fit in 8 GB, and the scoring loop is one XOR+popcount
    per word, the cheapest candidate generator on the whole curve.
    Thresholds ride the plan as ``dim`` literals (no join); the query
    side broadcasts; the only corpus shuffles are the per-query top-R
    window and the rerank join back to the float vectors. Recall floor
    vs brute force locked in tests/test_ann_quality.py."""
    t = (
        thresholds
        if thresholds is not None
        else binq_train(vectors, vec_col=vec_col).localCheckpoint(eager=True)
    )
    enc = (
        codes
        if codes is not None
        else binq_encode(vectors, t, id_col=id_col, vec_col=vec_col)
    )
    corpus = enc.select(F.col(id_col).alias("nid"), F.col("words"))
    q = binq_encode(queries, t, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.col("words").alias("qwords"),
    )
    scored = corpus.join(
        F.broadcast(q), F.col("nid") != F.col("qid")
    ).withColumn("ham", _hamming(F.col("qwords"), F.col("words")))
    w = Window.partitionBy("qid").orderBy(F.col("ham").asc(), F.col("nid"))
    cands = (
        scored.withColumn("r1", F.row_number().over(w))
        .filter(F.col("r1") <= rerank)
        .select("qid", F.col("qvec"), "nid")
    )
    exact_side = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("evec")
    ).withColumn("enorm", l2_norm(F.col("evec")))
    reranked = (
        cands.withColumn("qnorm", l2_norm(F.col("qvec")))
        .join(exact_side, "nid")
        .withColumn(
            "sim",
            dot_product(F.col("qvec"), F.col("evec"))
            / (F.col("qnorm") * F.col("enorm")),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        reranked.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "rank", F.round("sim", 6).alias("sim"))
    )
