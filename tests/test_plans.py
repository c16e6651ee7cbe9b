"""Plan-shape regression tests: the 100 TB contract, asserted on explain().

These lock in the scale properties the operators were designed around:
filters reach the parquet scan, projections prune columns, small sides
broadcast, and nothing degenerates into an unhinted cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def qs(spark):
    from debezium_spark.suite import load_all

    return load_all()


def _plan(spark, qs, name):
    return qs[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_window_poll_pushes_bounds_into_scan(spark, qs):
    plan = _plan(spark, qs, "s10_lsn_window_poll")
    assert "GreaterThan(event_id,2000)" in plan
    assert "LessThanOrEqual(event_id,4000)" in plan
    # Column pruning: only the three projected columns are read.
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in plan


def test_lsh_pipeline_has_no_cartesian_and_single_scan(spark, qs):
    plan = _plan(spark, qs, "x6_lsh_candidates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # Signature is computed on ONE scan of documents (the self-join rewrite
    # would show two) and only doc_id+text are read.
    assert plan.count("FileScan parquet") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_knn_broadcasts_queries_not_cartesian(spark, qs):
    plan = _plan(spark, qs, "a2_knn_bruteforce")
    # The intended O(corpus x queries) compute rides a BROADCAST nested loop
    # (query side tiny by construction) — never a shuffled cartesian.
    assert "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_sparse_retrieval_posting_join_shape(spark, qs):
    """a13/a14 ride the inverted-index posting join: the QUERY side's
    postings broadcast (explicit hint), the per-query top-k is a
    partitioned WindowGroupLimit rank pushdown, and nothing degenerates
    into a cartesian."""
    for name in ("a13_knn_sparse", "a14_bm25_rank"):
        plan = _plan(spark, qs, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "WindowGroupLimit" in plan, name


def test_sparse_cosine_broadcasts_one_row_query(spark, qs):
    plan = _plan(spark, qs, "a12_sparse_cosine")
    # one-row query vector rides a broadcast nested loop, never a shuffle
    assert "BroadcastNestedLoop" in plan
    assert "CartesianProduct" not in plan


def test_reselect_lookup_join_broadcasts(spark, qs):
    plan = _plan(spark, qs, "t18_reselect_columns")
    assert "BroadcastHashJoin" in plan
    # Lookup side reads only the key + reselected column.
    assert "ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>" in plan


def test_snapshot_scan_prunes_columns(spark, qs):
    plan = _plan(spark, qs, "s1_snapshot_envelope")
    # customer has 8 columns; the envelope needs exactly three.
    assert (
        "ReadSchema: struct<c_custkey:bigint,c_acctbal:double,c_mktsegment:string>"
        in plan
    )


def test_schema_version_attach_is_broadcast_range_join(spark, qs):
    plan = _plan(spark, qs, "t13_schema_to_record")
    assert "BroadcastNestedLoop" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_merge_has_no_full_table_shuffle_on_probe_side(spark, qs):
    # k1 merges a 10k-event feed into a 1.5k snapshot: the KEY joins must be
    # hash joins — a nested-loop there would be O(n*m). The single allowed
    # BroadcastNestedLoopJoin is the one-row truncate-flag cross join.
    plan = _plan(spark, qs, "k1_merge_upsert")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("BroadcastHashJoin") >= 1


def _minhash_signature_expr(df, text_col="text", num_hashes=8, k=5):
    """Pure-Catalyst MinHash: the parity reference for the numpy kernel.

    Char codes extracted once per document, K affine maps per distinct
    base, all minima taken inside a single aggregate fold so nothing is
    re-evaluated by project collapse."""
    from debezium_spark.analytics.text import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        SHINGLE_POLY_BASE,
        normalize_text,
    )

    P = MINHASH_PRIME
    pows = [SHINGLE_POLY_BASE ** (k - 1 - i) % P for i in range(k)]
    norm = normalize_text(F.col(text_col))
    n = F.greatest(F.lit(1), F.length(norm) - F.lit(k - 1))
    # split-to-chars so the lambda only touches its own variable
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    out = df.withColumn("__c", codes)
    bases = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda p: sum(
                F.element_at(F.col("__c"), p + i) * F.lit(pows[i])
                for i in range(k)
            ) % P,
        )
    )
    consts = F.array(
        *[
            F.struct(
                F.lit(MINHASH_A[j]).alias("a"), F.lit(MINHASH_B[j]).alias("b")
            )
            for j in range(num_hashes)
        ]
    )

    def hash_all(base):
        return F.transform(consts, lambda t: (t["a"] * base + t["b"]) % P)

    sig = F.aggregate(
        bases,
        F.array_repeat(F.lit(P).cast("long"), num_hashes),
        lambda acc, b: F.zip_with(acc, hash_all(b), lambda x, y: F.least(x, y)),
    )
    out = out.withColumn("__sig", sig).drop("__c")
    return out.select(
        "*", *[F.col("__sig")[j].alias(f"mh{j}") for j in range(num_hashes)]
    ).drop("__sig")


def test_minhash_numpy_matches_expression_variant(spark, sf_dir):
    """The Arrow/numpy MinHash kernel is bit-identical to the pure-Catalyst
    expression form (same arithmetic, same sentinel for short docs)."""
    from debezium_spark.analytics.text import minhash_signature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ["doc_id"] + [f"mh{j}" for j in range(8)]
    a = minhash_signature(docs).select(*cols)
    b = _minhash_signature_expr(docs).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_jaccard_kernel_matches_jvm_shingle_sets(spark):
    """The candidate-pair Jaccard kernel equals the JVM shingle-set
    verification it replaced (distinct shingle arrays, array_intersect /
    array_union) on every pair of edge texts: NULL, empty, shorter than k,
    case and whitespace variants, non-BMP characters, identical texts.
    Both give NULL for a NULL text; the DuckDB x7 oracle gives 0.0 there,
    which the threshold filter drops the same way."""
    from debezium_spark.analytics.text import (
        _shingle_jaccard,
        normalize_text,
        shingles,
    )

    texts = [
        None, "", "abc", "ab  C", "  Ab c ",
        "The quick brown fox", "the   QUICK brown fox ",
        "smile \U0001F600 here \U0001F600 now",
        "smile \U0001F600 here \U0001F603 now",
        "x\U0001F600y\U0001F600z", "x\U0001F600y\U0001F600zz",
        "same text here", "same text here",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select(
        "doc_id",
        normalize_text(F.col("text")).alias("norm"),
        F.array_distinct(shingles(F.col("text"), 5)).alias("sset"),
    )
    a, b = docs.alias("x"), docs.alias("y")
    inter = F.size(F.array_intersect(F.col("x.sset"), F.col("y.sset")))
    union = F.size(F.array_union(F.col("x.sset"), F.col("y.sset")))
    rows = (
        a.join(b, F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.norm").alias("ta"), F.col("y.norm").alias("tb"),
            (inter.cast("double") / union.cast("double")).alias("jvm"),
        )
        .collect()
    )
    assert len(rows) == len(texts) * (len(texts) - 1) // 2
    jac, null = _shingle_jaccard(
        [r["ta"] for r in rows], [r["tb"] for r in rows], 5
    )
    got = [None if nl else float(v) for v, nl in zip(jac, null)]
    assert got == [r["jvm"] for r in rows]
    assert 1.0 in got and 0.0 in got and None in got


def test_near_dup_pairs_runs_no_repartition_or_shingle_arrays(
    spark, sf_dir, monkeypatch
):
    """On a one-partition input the distributed near-dup chain (the bound
    at 0 forces it) neither round-robins the documents into more Python
    tasks nor evaluates a per-row Python UDF, and Jaccard is computed
    without JVM shingle arrays."""
    from debezium_spark.analytics import text

    monkeypatch.setattr(text, "_NEAR_DUP_MAX_ROWS", 0)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    plan = (
        text.near_dup_pairs(docs, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" not in plan
    assert "ArrowEvalPython" not in plan
    assert "array_intersect" not in plan
    assert plan.count("MapInArrow") == 2  # the MinHash and Jaccard kernels


def test_near_dup_pairs_inline_plan_has_no_python_worker_or_exchange(
    spark, sf_dir
):
    """Under the inline bound the near-dup pairs are a local relation
    computed on the driver: the plan handed downstream holds no Python
    worker operator and no shuffle."""
    from debezium_spark.analytics import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = text.near_dup_routes["inline"]
    plan = (
        text.near_dup_pairs(docs, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert text.near_dup_routes["inline"] == before + 1
    for op in ("MapInArrow", "MapInPandas", "Exchange"):
        assert op not in plan, op


def _simhash_expr(df, text_col="text", bits=16):
    """Pure-Catalyst SimHash: the parity reference for the numpy kernel.

    Each token hashes as a polynomial rolling hash of its char codes (mod
    MINHASH_PRIME) through one affine map, the shape the DuckDB oracle
    mirrors; each bit is one interpreted vote fold over the token hashes."""
    from debezium_spark.analytics.text import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_PRIME,
        SHINGLE_POLY_BASE,
        tokenize,
    )

    P = MINHASH_PRIME

    def token_hash(tok):
        codes = F.transform(
            F.sequence(F.lit(1), F.length(tok)),
            lambda i: F.ascii(tok.substr(i, F.lit(1))).cast("long"),
        )
        base = F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, c: (acc * SHINGLE_POLY_BASE + c) % P,
        )
        return (base * MINHASH_A[0] + MINHASH_B[0]) % P

    def bit_voter(j):
        return lambda a, h: a + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = df.withColumn(
        "__th", F.transform(tokenize(F.col(text_col)), token_hash)
    )
    acc = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(F.col("__th"), F.lit(0), bit_voter(j))
        acc = acc + F.when(vote > 0, F.lit(2 ** j).cast("long")).otherwise(0)
    return out.withColumn("simhash", acc).drop("__th")


def test_simhash_numpy_matches_expression_variant(spark, sf_dir):
    from debezium_spark.analytics.text import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = simhash(docs).select("doc_id", "simhash")
    b = _simhash_expr(docs).select("doc_id", "simhash")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_q5_star_join_broadcasts_all_dimensions(spark, qs):
    """w14: lineitem-orders is the only shuffle join; customer/supplier/
    nation/region ride broadcasts; the date filter reaches the orders scan."""
    plan = _plan(spark, qs, "w14_local_supplier_volume")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_w12_star_join_broadcasts_all_dimensions(spark, qs):
    """w12 (TPC-H Q5 shape): every dimension rides a broadcast regardless of
    the session's autoBroadcastJoinThreshold — the suite hints explicitly,
    so a conf change can't silently degrade the star into shuffle joins."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, qs, "w12_region_revenue")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_snapshot_override_pushes_predicate_into_scan(spark, qs):
    """s12 (rotated into the r4 driver window): the per-table SELECT
    override's predicate and projection must reach the parquet scan."""
    plan = _plan(spark, qs, "s12_snapshot_override")
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)" in plan
    assert "o_orderdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_ivf_search_has_no_cartesian_on_corpus(spark, qs):
    """a8: the only nested-loop joins are the 8-row broadcast centroid
    assignments; candidate scoring is a hash join on the cell key."""
    plan = _plan(spark, qs, "a8_ivf_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_chunker_is_shuffle_free(spark, qs):
    """x11: chunking is scan + in-row explode — no exchange anywhere."""
    plan = _plan(spark, qs, "x11_chunk_documents")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_repetition_ratio_is_shuffle_free(spark, qs):
    plan = _plan(spark, qs, "x13_repetition_ratio")
    assert "Exchange" not in plan


def test_bucketed_tables_join_without_shuffle(spark):
    """The co-located-join story from SCALE.md, proven on real bucketed
    tables: both sides bucketed+sorted on the join key → SortMergeJoin
    with NO shuffle exchange on either side (only the bucketed scans)."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    # The in-memory catalog forgets tables across sessions but their dirs
    # persist in the scratch warehouse; clear them so re-creation works.
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer"))
    try:
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_customer").hint("merge"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # The join itself is exchange-free: no repartitioning on either
        # join key; the only exchange is the post-join groupBy's.
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1
        assert "SelectedBucketsCount: 8 out of 8" in plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_table_window_without_shuffle(spark):
    """Window partitioned by the bucket key needs NO exchange on a
    bucketed table — this is what makes the K4 reduce and the MOR
    read-merge shuffle-free when sink storage is PK-bucketed."""
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF}/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS bw_orders")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/bw_orders", ignore_errors=True)
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("bw_orders"))
    try:
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        df = spark.table("bw_orders").select(
            "o_custkey", F.row_number().over(w).alias("rn")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert df.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bw_orders")


def test_no_query_in_registry_plans_a_cartesian_product(spark, built_queries):
    """Blanket guarantee over the ENTIRE registry: no registered query's
    physical plan contains an unhinted CartesianProduct. (Broadcast
    nested-loop joins are allowed — they are the intended plan for tiny
    broadcast sides like knn query sets and centroid tables.)"""
    offenders = []
    for name, df in built_queries.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_no_query_in_registry_uses_a_single_partition_window(
    spark, built_queries
):
    """Blanket guarantee: no registered query plans a Window that funnels
    unbounded input through ONE task. That shape is an empty partition spec
    OR a spec of only foldable (literal) expressions — the suite uses
    partitionBy(lit(0)) to silence the benign WindowExec warning on
    limit-bounded ranks, and this audit must not let that idiom hide a real
    unbounded window. Single-partition windows are allowed only when a
    Limit bounds the window's input (the TakeOrdered-then-rank-the-
    survivors pattern in w2/w15/x15)."""

    def has_limit_below(node):
        ch = node.children()
        for i in range(ch.length()):
            c = ch.apply(i)
            if c.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
                return True
            if has_limit_below(c):
                return True
        return False

    def single_partition_spec(node) -> bool:
        spec = node.partitionSpec()
        if spec.isEmpty():
            return True
        for i in range(spec.length()):
            if not spec.apply(i).foldable():
                return False
        return True

    def offending_windows(df):
        bad = []

        def walk(node):
            if node.getClass().getSimpleName() == "Window":
                if single_partition_spec(node) and not has_limit_below(node):
                    bad.append(node.simpleStringWithNodeId())
            ch = node.children()
            for i in range(ch.length()):
                walk(ch.apply(i))

        walk(df._jdf.queryExecution().optimizedPlan())
        return bad

    # Exemptions must name their bounding argument: s34's lead() window
    # runs over the ROWS_QUERY/XID marker stream — one row per SQL
    # STATEMENT, already reduced by orders of magnitude before the
    # window and joined back via the binned range join. The plan can't
    # prove that bound (no Limit), and a stream with statement counts
    # past single-task capacity should decode compressed transactions,
    # where the query threads with no window at all (the s32 path).
    allowed = {"s34_binlog_include_query"}
    offenders = {}
    for name, df in built_queries.items():
        if name in allowed:
            continue
        bad = offending_windows(df)
        if bad:
            offenders[name] = bad
    assert not offenders, f"single-partition windows in: {offenders}"


def test_decontamination_gram_join_is_broadcast_semi(spark, qs):
    """x21: the benchmark-gram membership check must be a LeftSemi join that
    BROADCASTS the (small by construction) benchmark gram set — a
    shuffle-everything gram join would move the whole exploded corpus. The
    initial plan may be sort-merge (aggregate stats are conservative);
    AQE's runtime re-plan must land on broadcast, so assert on the FINAL
    adaptive plan after execution."""
    df = qs["x21_decontamination"].fn(spark, SF)
    assert df.count() > 0  # materialize → isFinalPlan=true
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    import re

    semi_joins = re.findall(r"\w+Join LeftSemi|\w+Join.*LeftSemi", plan)
    assert semi_joins, f"no semi join found in plan:\n{plan}"
    assert all("Broadcast" in j for j in semi_joins), (
        f"non-broadcast semi join at bench-gram scale: {semi_joins}"
    )


def test_label_propagation_round_is_bounded_shuffles(spark):
    """x20: one min-label-propagation round (the factored per-iteration
    dataflow) is an equi-join + one hash aggregation — its plan must show
    no cartesian/nested-loop and a bounded number of Exchanges (≤3: two
    join inputs + the aggregation; fewer when broadcast/reuse kicks in).
    The fixpoint loop localCheckpoints between rounds, so this per-round
    shape IS the whole query's scale behavior."""
    from debezium_spark.analytics.text import propagate_min_labels

    edges = spark.range(1000).selectExpr(
        "id AS src", "(id % 97) AS dst"
    )
    sym = edges.unionByName(
        edges.selectExpr("dst AS src", "src AS dst")
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    out = propagate_min_labels(sym, labels)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 3, f"{n_exchange} exchanges in one round:\n{plan}"
    assert out.count() > 0


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must stay map-side: codebooks ship as literals inside
    the plan and each vector's per-subspace argmin is pure expression work
    — no Exchange. This is the property that makes the 100 TB code-scan
    cheap (the corpus is never shuffled to be quantized)."""
    from debezium_spark.analytics.vectors import pq_encode, pq_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = pq_train(emb, m=4, k=4).localCheckpoint(eager=True)
    enc = pq_encode(emb, books, m=4)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert enc.count() == emb.count()


def test_stratified_sample_rides_the_scan(spark):
    """x23's keep decision is a hash filter over scan output — zero
    Exchange, zero Python; the sample never costs more than the read."""
    from debezium_spark.analytics.text import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = stratified_sample(docs, {"en": 0.5}, default_rate=0.1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert out.count() > 0


def test_ivf_cell_assignment_is_shuffle_free(spark):
    """The IVF assignment step ships centroids as a literal array and
    argmaxes map-side — its plan must contain NO Exchange (the old shape
    shuffled corpus x n_cells rows through a per-vector window)."""
    from debezium_spark.analytics.vectors import _nearest_cells, ivf_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cents = ivf_train(emb, n_cells=4).localCheckpoint(eager=True)
    assigned = _nearest_cells(emb, cents, "vec_id", "embedding", nprobe=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert assigned.count() == n


def test_dedupe_lines_is_shuffle_free(spark, qs):
    """x31: within-doc line dedup is one indexed higher-order filter in the
    scan projection — no Exchange at any corpus size."""
    plan = _plan(spark, qs, "x31_dedupe_lines")
    assert "Exchange" not in plan


def test_repetition_metrics_is_shuffle_free(spark, qs):
    """x33: the full Gopher repetition rule set stays in-row — no Exchange."""
    plan = _plan(spark, qs, "x33_repetition_metrics")
    assert "Exchange" not in plan


def test_corpus_line_dedup_bounded_shuffles(spark, qs):
    """x32: cross-doc line dedup is exactly two hash-key shuffles (per-line
    min-doc agg + per-doc reassembly agg); the keeper table joins back by
    hash (broadcast at small SF, SMJ at scale) — never a cartesian."""
    plan = _plan(spark, qs, "x32_dedupe_corpus_lines")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_waiting_suppliers_no_expand_and_topk(spark, qs):
    """w32 (Q21): the two-level decorrelation must not regress to the
    Expand/gid multi-distinct plan (3× row inflation before the partial
    agg), and top-20 must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, qs, "w32_waiting_suppliers")
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_incremental_dedup_is_band_join_not_cartesian(spark, qs):
    """x34: batch-vs-index screening must stay a banded equi-join —
    no cartesian/nested-loop between the batch and the corpus index."""
    plan = _plan(spark, qs, "x34_incremental_dedup")
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_cluster_balanced_sample_single_cell_shuffle(spark, qs):
    """a17: routing must stay the literal-centroid map-side argmax (no
    corpus×centroid exchange); the quota is the ONLY hash shuffle (cell
    key), and the cell window is never single-partition."""
    plan = _plan(spark, qs, "a17_cluster_balanced_sample")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_market_share_broadcasts_dims_single_fact_agg(spark, qs):
    """w33 (Q8): every dimension arrives broadcast; the ratio is ONE
    aggregation (no numerator/denominator double scan); no cartesian."""
    plan = _plan(spark, qs, "w33_market_share")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    import re
    assert len(re.findall(r"HashAggregate\(keys=\[o_year", plan)) <= 2  # partial+final


def test_string_keyset_chunk_pushes_rowvalue_filter(spark, qs):
    """s16: the row-value expansion must reach the parquet scan — the
    leading c_name disjunct bounds appear in PushedFilters (min-max file
    pruning), and only the three projected columns are read."""
    plan = _plan(spark, qs, "s16_string_keyset_chunk")
    assert (
        "PushedFilters: [IsNotNull(c_name), "
        "Or(GreaterThan(c_name,Customer#000000300)" in plan
    )
    # Catalyst additionally derives the pure-prefix upper bound from the
    # NOT side: c_name <= hi prunes files on min-max stats alone.
    # (expression ids like c_name#1 are session-dependent — match without)
    import re

    assert re.search(r"c_name#\d+ <= Customer#000000900\)", plan)
    assert (
        "ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int>"
        in plan
    )


def test_composite_chunks_no_global_window(spark, qs):
    """s15: the two-level rank must never serialize into one global
    ordered window — every Window partitions by the bucket column."""
    plan = _plan(spark, qs, "s15_composite_key_chunks")
    import re

    for m in re.finditer(r"Window \[.*?\]", plan):
        assert "partitionBy" not in m.group(0) or "__b" in m.group(0)
    # the window's exchange is hash-partitioned on the bucket, not a
    # single-partition sort
    assert "SinglePartition" not in plan


def test_pgoutput_decode_is_one_kernel_without_joins(spark):
    """s18 names and stamps its rows inside ONE MapInArrow kernel over the
    I/U/D messages (relation versions and BEGIN intervals held
    driver-side), so the plan has no join of any kind — in particular no
    BroadcastNestedLoopJoin, whose O(txs-per-batch x data rows) cost is
    the shape this operator exists to avoid. The same kernel builds the
    envelope maps and name lists in Arrow, so no interpreted higher-order
    lambda (``zip_with``/``filter``/``transform``/``map_from_entries``)
    runs per row after it."""
    import re

    from debezium_spark.suite import load_all

    q = load_all()["s18_pgoutput_binary_decode"]
    executed = q.fn(spark, SF)._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("MapInArrow") == 1
    classes = set(re.findall(r'"class":"[\w.$]*\.(\w+)"', executed.toJSON()))
    assert "MapInArrowExec" in classes
    assert not classes & {
        "ZipWith", "ArrayFilter", "ArrayTransform", "MapFromEntries"
    }


def test_binary_quant_broadcasts_queries_and_plans_literal_thresholds(
    spark, qs
):
    plan = _plan(spark, qs, "a20_binary_quant_search")
    # the query side broadcasts (intentional BNLJ, same as knn brute);
    # the corpus side must NOT hit a CartesianProduct
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # thresholds are plan literals — no extra scan or join for the index
    assert plan.count("Scan parquet") <= 3  # corpus + query + rerank side


def test_nb_quality_has_no_data_cartesian(spark, qs):
    plan = _plan(spark, qs, "x43_nb_quality")
    # the only cross joins are the 1-row totals/priors broadcasts
    assert "CartesianProduct" not in plan
    # scoring is a tok-keyed join, never a nested loop over docs
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_lob_assembly_shuffles_on_tx_only(spark, qs):
    plan = _plan(spark, qs, "s29_logminer_lob")
    assert "CartesianProduct" not in plan
    # exactly one exchange keyed on the transaction feeds the fold
    assert plan.count("hashpartitioning(tx") == 1


def test_bloom_screen_is_join_free(spark, qs):
    """x44's corpus screen carries the Bloom filter as a PLAN LITERAL:
    the screening select must contain no join and no exchange — it runs
    at scan speed on every partition independently."""
    from debezium_spark.analytics.text import (
        bloom_decontaminate,
        bloom_ngram_build,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bloom = bloom_ngram_build(docs.filter(F.col("doc_id") % 97 == 0))
    screen = bloom_decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0), bloom
    )
    plan = screen._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the small-input round-robin rebalance
    # (ensure_parallelism; a no-op on well-partitioned inputs) — never a
    # key shuffle, never a join
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_typed_projection_tails_are_scan_shaped(spark, qs):
    """s22c (ranges/hstore) and s22d (pgvector/ltree) must add NOTHING to
    the decode plan: no join, no key shuffle — the typed projection is a
    pure expression layer over the Arrow decode; the only exchange is the
    fixture's small-input round-robin rebalance."""
    for name in ("s22c_pg_range_hstore", "s22d_pgvector_types",
                 "s22e_pg_misc_types"):
        plan = _plan(spark, qs, name)
        assert "hashpartitioning" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_capture_migration_pushes_windows_and_adds_no_shuffle(spark, qs):
    """s33: each capture instance's [start, next-start) literal window
    reaches its scan as a pushed filter; the union adds no exchange —
    the only key shuffle is the change-table pairing aggregation."""
    plan = _plan(spark, qs, "s33_sqlserver_capture_migration")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    # exactly one aggregation exchange (the (start_lsn, seqval) pairing)
    assert plan.count("hashpartitioning(start_lsn") == 1
    # the v2 instance's start-LSN window is pushed into the parquet scan
    assert "GreaterThanOrEqual(event_id" in plan


def test_include_query_attach_is_binned_range_join(spark, qs):
    """s34: the statement-marker attach rides the BINNED range join — an
    equi-join on the position bin (broadcast at this scale, a plain
    shuffled hash join when the statement table outgrows broadcast),
    NEVER a non-equi BroadcastNestedLoopJoin over the row stream
    (quadratic in statements x rows; measured 1.5x slower even at
    sf0.1). The only NL join is the 1-row high-water crossJoin. r13: the
    marker-building lead() is TWO-LEVEL — distributed within position
    bins (hashpartitioning(__lbin)) plus a boundary repair whose global
    window sees ONE ROW PER NON-EMPTY BIN — so no single-partition step
    scales with statement count; the two SinglePartition exchanges left
    are that bin-repair window and the 1-row high-water aggregation."""
    plan = _plan(spark, qs, "s34_binlog_include_query")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # binned attach + the bin-boundary repair join
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("BroadcastNestedLoop") == 1  # 1-row hi bound only
    # the statement-scale window runs distributed by position bin
    assert "hashpartitioning(__lbin" in plan
    # bin-repair window (1 row/non-empty bin) + 1-row high-water agg
    assert plan.count("SinglePartition") == 2


def test_xa_view_change_decode_is_single_pass(spark, qs):
    """s35: XA/view-change marker surfacing adds nothing to the decode
    plan — no join, no key shuffle."""
    plan = _plan(spark, qs, "s35_binlog_xa_view_change")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_olr_decode_is_scan_shaped(spark, qs):
    """s36: frame split + from_json + typed projection stay one
    shuffle-free pass — the schema registry's bounded distinct is a
    separate setup job, never part of the row-stream plan."""
    plan = _plan(spark, qs, "s36_olr_stream")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_txn_payload_decode_is_single_pass(spark, qs):
    """s32: the compressed-payload decode is ONE Arrow kernel pass — no
    join, no key shuffle anywhere in the registered query's plan."""
    plan = _plan(spark, qs, "s32_binlog_txn_payload")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
