"""Connected-components engines: star contraction vs min-label propagation.

The two duplicate_clusters methods must produce identical labelings, and
the star variant must handle the adversarial shape (long chains) that the
diameter-bound propagate loop refuses.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from debezium_spark.analytics.text import (
    connected_components_star,
    duplicate_clusters,
)


def _labels(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_star_labels_known_components(spark):
    # components: {1,2,3,4}, {10,11}, {20,21,22}; 30-31 via shared 32
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11),
            (20, 21), (21, 22), (20, 22),
            (30, 32), (31, 32),
        ],
        "src long, dst long",
    )
    got = _labels(connected_components_star(edges))
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
        (30, 30), (31, 30), (32, 30),
    }


def test_star_converges_on_long_chain(spark):
    # A 200-node path has diameter 199: propagation needs ~200 rounds; the
    # star contraction must still converge within its O(log² n) budget.
    n = 200
    edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    got = _labels(connected_components_star(edges))
    assert got == {(i, 0) for i in range(n)}


def test_propagate_raises_on_exhausted_budget(spark):
    """The convergence guard: a diameter > max_iters component must raise,
    never silently return partially propagated labels."""
    from debezium_spark.analytics.text import propagate_min_labels

    n = 30
    edges = spark.range(n - 1).selectExpr("id AS src", "id + 1 AS dst")
    sym = edges.unionByName(
        edges.selectExpr("dst AS src", "src AS dst")
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # drive the same loop duplicate_clusters runs, with a tiny budget
    for _ in range(3):
        labels = propagate_min_labels(sym, labels).localCheckpoint(eager=True)
    partial = {r["node"]: r["label"] for r in labels.collect()}
    # after 3 rounds a 30-node chain is NOT fully labeled — which is why
    # the guard exists
    assert any(v != 0 for v in partial.values())


def test_duplicate_clusters_methods_agree(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prop = _labels(duplicate_clusters(docs))
    star = _labels(duplicate_clusters(docs, method="star"))
    assert prop == star
    assert prop, "fixture should produce at least one cluster"


def test_duplicate_clusters_rejects_unknown_method(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        duplicate_clusters(docs, method="bogus")


def test_duplicate_clusters_zero_iters_raises_runtime_error(spark, sf_dir):
    """max_iters=0 must surface the non-convergence RuntimeError, not a
    NameError from the unbound loop counter."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(docs, max_iters=0)


def test_boilerplate_ngrams_covers_every_document(spark):
    """A document with zero boilerplate hits must still appear with
    n_boiler=0 — the cleaning signal covers the whole corpus (a filter
    consumer would silently keep unscored docs otherwise)."""
    from debezium_spark.analytics.text import boilerplate_ngrams

    rows = [(i, "common header words repeat " + ("alpha beta " * 3)) for i in range(6)]
    rows.append((99, "utterly unique singleton sentence with rare tokens only here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_ngrams(docs, n=3, top=2).collect()
    assert len(out) == 7
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[99]["n_boiler"] == 0
    assert by_id[99]["boiler_ratio"] == 0.0


#: ``lsh_candidate_pairs``' defaults, spelled out for the private variant
_LSH = dict(text_col="text", id_col="doc_id", num_hashes=8, rows_per_band=2,
            k=5)


def test_lsh_pair_impls_identical(spark, sf_dir):
    """The Arrow pair-emission fast path must produce EXACTLY the
    expression variant's pair set — same buckets, same canonical (a<b)
    form, same first-matching-band duplicate suppression."""
    from debezium_spark.analytics.text import (
        _lsh_candidate_pairs_expr,
        lsh_candidate_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    arrow = sorted(map(tuple, lsh_candidate_pairs(docs).collect()))
    expr = sorted(map(tuple, _lsh_candidate_pairs_expr(docs, **_LSH).collect()))
    assert arrow == expr
    assert arrow, "fixtures should produce candidate pairs"


def test_lsh_pairs_null_text_matches_expr(spark):
    """NULL texts produce NULL signatures; the arrow kernel must group
    their NULL band keys exactly like the expression groupBy does (one
    NULL bucket per band, pairs emitted once from band 0) instead of
    crashing on a NaN→int64 cast."""
    from debezium_spark.analytics.text import (
        _lsh_candidate_pairs_expr,
        lsh_candidate_pairs,
    )

    rows = [(i, "shared near duplicate text body " * 4) for i in range(4)]
    rows += [(10, None), (11, None), (12, None)]
    rows += [(20, f"unique text number twenty {20}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    arrow = sorted(map(tuple, lsh_candidate_pairs(docs).collect()))
    expr = sorted(map(tuple, _lsh_candidate_pairs_expr(docs, **_LSH).collect()))
    assert arrow == expr
    # the three NULL docs pair with each other exactly once
    assert {(10, 11), (10, 12), (11, 12)} <= set(arrow)


def test_lsh_pairs_string_ids_fall_back_to_expr(spark):
    """Non-integral id columns can't ride the int64 numpy kernel; the
    call must take the expression variant and produce its result instead
    of a cast ValueError mid-task."""
    from debezium_spark.analytics.text import (
        _lsh_candidate_pairs_expr,
        lsh_candidate_pairs,
    )

    rows = [(f"doc-{i}", "shared near duplicate text body " * 4) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = sorted(map(tuple, lsh_candidate_pairs(docs).collect()))
    expr = sorted(
        map(tuple, _lsh_candidate_pairs_expr(docs, **_LSH).collect())
    )
    assert got == expr
    assert ("doc-0", "doc-1") in set(got)



def _near_dup_edge_docs(spark, sf_dir):
    """sf0.001 documents plus the edge rows both near-dup routes must
    agree on: NULL texts, a NULL id, ``""`` twice, texts shorter than k,
    non-BMP text, and a long pair whose exact Jaccard is 12499/25000 =
    0.49996, which rounds up to a threshold of 0.5."""
    import random

    rnd = random.Random(7)

    def chars(n):  # CJK code points: no 5-gram repeats at this length
        return "".join(chr(0x4E00 + rnd.randrange(20000)) for _ in range(n))

    common = chars(12503)
    extra = [
        (None, "a document without an id, same text as doc 1000"),
        (1000, "a document without an id, same text as doc 1000"),
        (1001, ""), (1002, ""), (1003, "abc"), (1004, "abd"),
        (1005, "smile \U0001F600 here \U0001F600 now and then"),
        (1006, "smile \U0001F600 here \U0001F603 now and then"),
        (1007, common + "a" + chars(6249)),
        (1008, common + "b" + chars(6250)),
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 50 != 0, F.col("text")).alias("text"),
    )
    return docs.unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )


def test_near_dup_inline_matches_distributed(spark, sf_dir, monkeypatch):
    """The driver-side near-dup route returns exactly the distributed
    plan's sorted (a, b, jaccard) list, edge texts included, and keeps
    the pair whose Jaccard only reaches the threshold once rounded."""
    from debezium_spark.analytics import text

    docs = _near_dup_edge_docs(spark, sf_dir)
    before = Counter(text.near_dup_routes)
    inline = sorted(map(tuple, text.near_dup_pairs(docs).collect()))
    monkeypatch.setattr(text, "_NEAR_DUP_MAX_ROWS", 0)
    dist = sorted(map(tuple, text.near_dup_pairs(docs).collect()))
    assert text.near_dup_routes - before == Counter(
        inline=1, over_bound=1
    )
    assert inline == dist
    pairs = {(a, b): j for a, b, j in inline}
    assert pairs[(1007, 1008)] == 0.5  # exact 0.49996
    assert pairs[(1001, 1002)] == 1.0  # "" and "" share the "" shingle
    assert (1003, 1004) not in pairs  # short texts: candidates, J = 0
    assert None not in {j for j in pairs.values()}


def test_near_dup_routes_counted(spark, sf_dir, monkeypatch):
    """Each near-dup route is counted under its name: the inline route,
    and the distributed plan for an over-bound input, duplicated ids and
    ids the numpy kernel cannot take."""
    from debezium_spark.analytics import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = "shared near duplicate text body " * 4
    dup = spark.createDataFrame(
        [(1, body), (1, body + "x"), (2, body)], "doc_id long, text string"
    )
    named = spark.createDataFrame(
        [(f"doc-{i}", body) for i in range(3)], "doc_id string, text string"
    )
    before = Counter(text.near_dup_routes)
    assert text.near_dup_pairs(docs).count() > 0
    assert text.near_dup_pairs(dup).count() > 0
    assert text.near_dup_pairs(named).count() == 3
    with monkeypatch.context() as m:
        m.setattr(text, "_NEAR_DUP_MAX_ROWS", 0)
        assert text.near_dup_pairs(docs).count() > 0
    assert text.near_dup_routes - before == Counter(
        inline=1, duplicate_ids=1, kernel_decline=1, over_bound=1
    )


def test_interval_iso_seconds_rendering(spark):
    """Interval.toIsoString parity: fractional trailing zeros strip, a bare
    trailing dot strips, integral seconds with a trailing zero digit ('10')
    survive, zero renders as '0'."""
    from debezium_spark.operators.handling import interval_iso

    df = spark.createDataFrame(
        [(1, "2.500"), (2, "2.000"), (3, "10.000"), (4, "0.000"), (5, "0.125")],
        "i long, s string",
    )
    out = df.select(
        "i",
        interval_iso(
            F.lit(1), F.lit(2), F.lit(3), F.lit(4), F.lit(5),
            F.col("s").cast("decimal(12,3)"),
        ).alias("iv"),
    ).collect()
    got = {r["i"]: r["iv"] for r in out}
    assert got[1] == "P1Y2M3DT4H5M2.5S"
    assert got[2] == "P1Y2M3DT4H5M2S"
    assert got[3] == "P1Y2M3DT4H5M10S"
    assert got[4] == "P1Y2M3DT4H5M0S"
    assert got[5] == "P1Y2M3DT4H5M0.125S"


def test_enum_set_nulls_on_any_bad_member(spark):
    from debezium_spark.operators.handling import enum_set_value

    df = spark.createDataFrame(
        [(1, ["A", "N"]), (2, ["A", "X"]), (3, [])],
        "i long, arr array<string>",
    )
    out = {
        r["i"]: r["v"]
        for r in df.select(
            "i", enum_set_value(F.col("arr"), ("A", "N")).alias("v")
        ).collect()
    }
    assert out == {1: "A,N", 2: None, 3: ""}


def test_pack_sequences_layout_invariants(spark):
    from debezium_spark.analytics.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + (i * 7) % 11))) for i in range(40)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, seq_len=10, shards=4).collect()
    assert len(out) == 40
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1  # hash routing actually spreads
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        # end-to-end layout: spans tile the shard stream with no gaps
        assert rows[0].begin_tok == 0
        for prev, cur in zip(rows, rows[1:]):
            assert cur.begin_tok == prev.end_tok
        for r in rows:
            assert r.end_tok - r.begin_tok == r.n_tokens
            assert r.first_seq == r.begin_tok // 10
            assert r.last_seq == (r.end_tok - 1) // 10
            assert r.n_seqs == r.last_seq - r.first_seq + 1 >= 1


def test_pack_sequences_deterministic_across_runs(spark):
    from debezium_spark.analytics.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, "a b c " * (1 + i % 5)) for i in range(25)],
        "doc_id long, text string",
    ).repartition(7)
    a = sorted(map(tuple, pack_sequences(docs).collect()))
    b = sorted(map(tuple, pack_sequences(docs.repartition(3)).collect()))
    assert a == b


def test_token_budget_sample_honors_budgets(spark):
    from debezium_spark.analytics.text import token_budget_sample

    docs = spark.createDataFrame(
        [
            (i, "web" if i % 2 == 0 else "code", " ".join(["w"] * (5 + i % 7)))
            for i in range(60)
        ],
        "doc_id long, source string, text string",
    )
    out = token_budget_sample(
        docs, {"web": 40, "code": 25}, default_budget=None
    ).collect()
    per_src: dict = {}
    for r in out:
        per_src.setdefault(r.source, []).append(r)
    # every kept doc's cumulative position fits the budget, and the token
    # totals never exceed it
    assert sum(r.n_tokens for r in per_src["web"]) <= 40
    assert sum(r.n_tokens for r in per_src["code"]) <= 25
    for rows in per_src.values():
        assert max(r.end_tok for r in rows) == sum(r.n_tokens for r in rows)
    # budgets actually bite: far fewer than the 30 docs per source survive
    assert 0 < len(per_src["web"]) < 30
    assert 0 < len(per_src["code"]) < 30


def test_token_budget_sample_default_none_keeps_unlisted(spark):
    from debezium_spark.analytics.text import token_budget_sample

    docs = spark.createDataFrame(
        [(i, "books", "x y z") for i in range(10)],
        "doc_id long, source string, text string",
    )
    out = token_budget_sample(docs, {"web": 5}, default_budget=None)
    assert out.count() == 10  # unlisted source kept in full


def test_token_budget_sample_deterministic_across_partitioning(spark):
    from debezium_spark.analytics.text import token_budget_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "t " * (1 + i % 9)) for i in range(45)],
        "doc_id long, source string, text string",
    )
    a = sorted(
        map(tuple, token_budget_sample(docs, {"s0": 30}, default_budget=20).collect())
    )
    b = sorted(
        map(
            tuple,
            token_budget_sample(
                docs.repartition(11), {"s0": 30}, default_budget=20
            ).collect(),
        )
    )
    assert a == b


def test_redact_pii_counts_and_rewrites(spark):
    """Every category matches, sequential counting equals placeholders
    inserted, NULL text stays NULL throughout."""
    from debezium_spark.analytics.text import redact_pii

    rows = [
        (1, "mail me at a.b+c@ex.co or 555-123-4567, host 10.0.0.1"),
        (2, "ssn 123-45-6789 twice 987-65-4321 end"),
        (3, "plain text no pii at all"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"], r1["n_ssn"]) == (1, 1, 1, 0)
    assert r1["clean_text"] == "mail me at <EMAIL> or <PHONE>, host <IP>"
    assert out[2]["n_ssn"] == 2
    assert out[2]["clean_text"] == "ssn <SSN> twice <SSN> end"
    r3 = out[3]
    assert r3["clean_text"] == "plain text no pii at all"
    assert r3["n_email"] == r3["n_phone"] == r3["n_ipv4"] == r3["n_ssn"] == 0
    r4 = out[4]
    assert r4["clean_text"] is None and r4["n_email"] is None


def test_redact_pii_ssn_before_phone_disambiguation(spark):
    """A 3-2-4 group is an SSN, a 3-3-4 group is a phone — the fixed
    replacement order must not let one category consume the other."""
    from debezium_spark.analytics.text import redact_pii

    docs = spark.createDataFrame(
        [(1, "123-45-6789 and 123-456-7890")], "doc_id long, text string"
    )
    r = redact_pii(docs).collect()[0]
    assert r["n_ssn"] == 1 and r["n_phone"] == 1
    assert r["clean_text"] == "<SSN> and <PHONE>"


def test_remove_boilerplate_spans_rewrites(spark):
    """Covered tokens vanish, overlapping occurrences union, a fully
    boilerplate doc becomes '', an untouched doc round-trips, NULL stays
    NULL."""
    from debezium_spark.analytics.text import remove_boilerplate_spans

    boiler = "one two three"  # will be the top-1 3-gram (df = 3)
    rows = [
        (1, f"{boiler} tail words here"),
        (2, f"head {boiler} middle {boiler}"),
        (3, boiler),
        (4, "completely unrelated tokens stay put"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs, n=3, top=1).collect()
    }
    assert out[1]["clean_text"] == "tail words here"
    assert out[1]["n_removed"] == 3 and out[1]["n_tokens"] == 6
    assert out[2]["clean_text"] == "head middle"
    assert out[2]["n_removed"] == 6
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 3
    assert out[4]["clean_text"] == "completely unrelated tokens stay put"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] is None


def test_remove_boilerplate_overlapping_occurrences_union(spark):
    """'a b a b a b' with bank gram 'a b a': occurrences at 1 and 3
    overlap; covered = positions 1..5, survivor just the final 'b'."""
    from debezium_spark.analytics.text import remove_boilerplate_spans

    rows = [(1, "a b a b a b"), (2, "a b a filler"), (3, "a b a filler2")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs, n=3, top=1).collect()
    }
    assert out[1]["clean_text"] == "b"
    assert out[1]["n_removed"] == 5


def test_dedupe_lines_first_occurrence_wins(spark):
    """Order preserved, first copy kept, NULL text stays NULL."""
    from debezium_spark.analytics.text import dedupe_lines

    rows = [
        (1, "a\nb\na\nc\nb\na"),
        (2, "only\none\nof\neach"),
        (3, "same\nsame\nsame"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedupe_lines(docs).collect()}
    assert out[1]["clean_text"] == "a\nb\nc" and out[1]["n_dupes"] == 3
    assert out[2]["clean_text"] == "only\none\nof\neach"
    assert out[2]["n_dupes"] == 0 and out[2]["n_lines"] == 4
    assert out[3]["clean_text"] == "same" and out[3]["n_dupes"] == 2
    assert out[4]["clean_text"] is None and out[4]["n_lines"] is None


def test_dedupe_corpus_lines_min_doc_keeps(spark):
    """A shared line survives only in the smallest doc id (ALL its copies
    there — within-doc dedup is dedupe_lines's job); a doc losing every
    line still emits a row with empty clean_text."""
    from debezium_spark.analytics.text import dedupe_corpus_lines

    rows = [
        (10, "footer\nunique-ten\nfooter"),
        (20, "unique-twenty\nfooter"),
        (30, "footer"),  # loses its only line
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedupe_corpus_lines(docs).collect()}
    assert out[10]["clean_text"] == "footer\nunique-ten\nfooter"
    assert out[10]["n_removed"] == 0
    assert out[20]["clean_text"] == "unique-twenty"
    assert out[20]["n_removed"] == 1
    assert out[30]["clean_text"] == "" and out[30]["n_removed"] == 1
    assert out[30]["n_lines"] == 1


def test_repetition_metrics_rules(spark):
    """Known-by-hand fractions: a fully repeated doc fails, a diverse doc
    passes, a single-token doc degrades to the one clamped n-gram."""
    from debezium_spark.analytics.text import repetition_metrics

    rows = [
        (1, "spam spam spam spam"),          # all 2-grams identical
        # all distinct AND long enough that top-2-gram coverage 2/12 <= 0.2
        # (short diverse docs legitimately fail the coverage rule)
        (2, "one two three four five six seven eight nine ten eleven twelve"),
        (3, "solo"),                          # < n tokens: clamped n-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    r1 = out[1]
    # 3 bigrams, 1 distinct -> dup frac 2/3; top bigram covers 2*3/4
    assert abs(r1["dup_2gram_frac"] - 2 / 3) < 1e-12
    assert r1["top_2gram_count"] == 3 and not r1["keep"]
    r2 = out[2]
    assert r2["dup_2gram_frac"] == 0.0 and r2["dup_3gram_frac"] == 0.0
    assert r2["top_2gram_count"] == 1 and r2["keep"]
    r3 = out[3]
    assert r3["n_tokens"] == 1 and r3["top_2gram_count"] == 1
    assert r3["dup_2gram_frac"] == 0.0


def test_incremental_dedup_vs_persisted_index(spark, tmp_path):
    """The production lifecycle: signatures saved to parquet, loaded back,
    a new batch screened against them. An exact copy of an indexed doc
    must surface with est_jaccard 1.0; an unrelated doc must not pair."""
    from debezium_spark.analytics.text import (
        lsh_candidates_vs_index,
        minhash_signature,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "completely different content about distributed query engines"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sig_index")
    minhash_signature(corpus).write.parquet(path)
    index_sigs = spark.read.parquet(path)

    new_batch = spark.createDataFrame(
        [
            (105, "the quick brown fox jumps over the lazy dog again today"),
            (110, "zebra xylophone quartz vex jumbled wharf glyphs"),
        ],
        "doc_id long, text string",
    )
    out = lsh_candidates_vs_index(index_sigs, new_batch).collect()
    pairs = {(r["new_id"], r["index_id"]): r for r in out}
    assert (105, 1) in pairs
    r = pairs[(105, 1)]
    assert r["est_jaccard"] == 1.0 and r["is_dup"]
    assert all(new_id != 110 for new_id, _ in pairs)


def test_scd2_history_versions_and_delete_semantics(spark):
    """Snapshot ∪ stream union: r opens the baseline, u supersedes, d closes
    without opening, a later re-create opens a fresh current version."""
    from debezium_spark.envelope import make_envelope
    from debezium_spark.operators.reduce import scd2_history
    from pyspark.sql import functions as F

    rows = [
        (1, "r", "A", 1.0, 10),
        (1, "u", "B", 2.0, 20),
        (1, "d", None, None, 30),
        (1, "c", "C", 3.0, 40),
        (2, "r", "X", 9.0, 11),
    ]
    ev = spark.createDataFrame(
        rows, "id long, op string, status string, balance double, pos long"
    )
    env = make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast("struct<id:long,status:string,balance:double>"),
        after=F.when(
            F.col("op") != "d",
            F.struct(F.col("id"), F.col("status"), F.col("balance")),
        ),
        op=F.col("op"),
        db="testdb",
        table="accounts",
        pos=F.col("pos"),
    )
    out = scd2_history(env, key_cols=["id"])
    got = {
        (r["id"], r["valid_from_pos"]): r for r in out.collect()
    }
    assert len(got) == 4  # the d row emits nothing
    assert got[(1, 10)]["valid_to_pos"] == 20 and not got[(1, 10)]["is_current"]
    assert got[(1, 20)]["valid_to_pos"] == 30 and not got[(1, 20)]["is_current"]
    v3 = got[(1, 40)]
    assert v3["valid_to_pos"] is None and v3["is_current"] and v3["status"] == "C"
    assert got[(2, 11)]["is_current"]


def test_mmr_rerank_diversity_beats_redundancy(spark):
    """λ low → the near-duplicate of the first pick loses to the diverse
    candidate; λ high → pure relevance order. Hand-computed 2-D fixture."""
    from debezium_spark.analytics.vectors import mmr_rerank

    rows = [
        # qid, nid, sim(=rel to query), candidate vector
        (1, 100, 1.00, [1.0, 0.0]),
        (1, 200, 0.95, [0.95, 0.3122498999199199]),   # near-twin of 100
        (1, 300, 0.50, [0.5, 0.8660254037844386]),    # diverse
    ]
    cands = spark.createDataFrame(
        rows, "qid long, nid long, sim double, nvec array<double>"
    )
    relevance_first = mmr_rerank(cands, k=2, lam=0.9).collect()
    by_rank = {r["rank"]: r["nid"] for r in relevance_first}
    assert by_rank == {1: 100, 2: 200}

    diversity_first = mmr_rerank(cands, k=2, lam=0.3).collect()
    by_rank = {r["rank"]: r["nid"] for r in diversity_first}
    assert by_rank == {1: 100, 2: 300}


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every near-dup cluster lands in exactly one split; singletons get
    their own draw; proportions hit the hash buckets."""
    from debezium_spark.analytics.text import leakage_safe_split

    dup_text = "shared near duplicate text body repeated words " * 4
    rows = [(i, dup_text) for i in range(6)]
    distinct = [
        "zebra xylophone quartz vex jumbled wharf glyphs dozen",
        "marble kitchen recipe thyme basil oven temperature roast",
        "telescope nebula photon spectrum redshift quasar orbit",
        "ledger accrual amortization dividend solvency audit fiscal",
    ]
    rows += [(100 + i, distinct[i]) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 10
    dup_splits = {by_id[i]["split"] for i in range(6)}
    assert len(dup_splits) == 1  # the whole component in one split
    assert {by_id[i]["cluster"] for i in range(6)} == {0}
    for i in range(4):
        assert by_id[100 + i]["cluster"] == 100 + i
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_interleaved_order_round_robins_domains(spark):
    """order_idx is a permutation of 0..N-1 on balanced sources, and two
    docs of one source are always exactly n_sources apart."""
    from debezium_spark.analytics.text import interleaved_order

    rows = [(i, f"src{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = interleaved_order(docs).collect()
    idxs = sorted(r["order_idx"] for r in out)
    assert idxs == list(range(30))
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["order_idx"])
    for src, lst in by_src.items():
        lst.sort()
        assert all(b - a == 3 for a, b in zip(lst, lst[1:])), src


def test_duplicated_spans_edges_and_merge(spark):
    """Hand-checkable corpus for the exact-substring detector (n=10):
    - doc 1 and doc 2 share a 14-char substring -> both flag 5 window
      starts that merge into ONE 14-char span each;
    - doc 3 repeats a 10-char block WITHIN itself -> both occurrences
      flag (within-doc repeats count, per Lee et al.);
    - doc 4 is unique text -> zero everywhere;
    - doc 5 is shorter than n -> n_grams=0, dup_frac NULL;
    - doc 6 is NULL text -> zero-stat row present, not dropped.
    """
    from debezium_spark.analytics.text import duplicated_spans

    shared = "ABCDEFGHIJKLMN"  # 14 chars
    rows = [
        (1, "xx" + shared + "yyyy"),
        (2, "qqqq" + shared + "zz"),
        (3, "0123456789" + "__pad__" + "0123456789"),
        (4, "entirely unique text with no repeats at all"),
        (5, "short"),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, n=10, key="text").collect()
    }
    assert len(out) == 6
    # docs 1/2: windows starting inside the shared 14-char run: 14-10+1 = 5
    for d in (1, 2):
        assert out[d]["dup_positions"] == 5
        assert out[d]["dup_chars"] == 14  # merged into one span
    # doc 3: the repeated 10-char block flags exactly its two occurrences
    assert out[3]["dup_positions"] == 2
    assert out[3]["dup_chars"] == 20
    assert out[4]["dup_positions"] == 0 and out[4]["dup_chars"] == 0
    assert out[5]["n_grams"] == 0 and out[5]["dup_frac"] is None
    assert out[6]["n_grams"] == 0 and out[6]["dup_positions"] == 0


def test_duplicated_spans_hash_key_equals_text_key(spark, sf_dir):
    """key='hash' (8-byte shuffle keys, the production setting) must
    produce identical per-doc stats to key='text' on the fixtures —
    a 64-bit collision inside 130k windows is astronomically unlikely,
    so any diff is a routing bug, not hash luck."""
    from debezium_spark.analytics.text import duplicated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(
        tuple(r) for r in duplicated_spans(docs, n=20, key="text").collect()
    )
    b = sorted(
        tuple(r) for r in duplicated_spans(docs, n=20, key="hash").collect()
    )
    assert a == b


def test_duplicated_spans_poly_stride1_equals_text_key(spark, sf_dir):
    """key='poly' at stride=1 (the numpy two-hash kernel, no explode) must
    reproduce key='text' exactly on the fixtures — a 60-bit combined-key
    collision inside 130k windows is astronomically unlikely, so any diff
    is a kernel bug, not hash luck."""
    from debezium_spark.analytics.text import duplicated_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(
        tuple(r) for r in duplicated_spans(docs, n=20, key="text").collect()
    )
    b = sorted(
        tuple(r)
        for r in duplicated_spans(docs, n=20, key="poly", stride=1).collect()
    )
    assert a == b


def test_duplicated_spans_sampled_detects_planted_duplicates(spark):
    """stride=4 sampling (x39, the 100 TB path): content-defined selection
    must catch a long duplicated span even when the two copies sit at
    DIFFERENT offsets in their documents (a positional stride would miss
    this), and a unique doc must stay clean. Deterministic data, fixed
    hash constants -> stable assertion."""
    from debezium_spark.analytics.text import duplicated_spans

    dup = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, "A" + dup + "tail one"),           # copy at offset 1
        (2, "prefix of length 16" + dup),      # copy at offset 19
        (3, "entirely unique text with no repeats whatsoever inside it, "
            "every twenty-char window here occurs exactly once overall"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(
            docs, n=20, key="poly", stride=4
        ).collect()
    }
    assert len(out) == 4
    # Both unaligned copies of the ~183-char duplicated run flag windows
    # (expected ~1/4 of its 164 window starts selected; missing ALL is
    # p ~ 0.75^164) and merge them into a substantial span.
    for d in (1, 2):
        assert out[d]["dup_positions"] > 10, out[d]
        assert out[d]["dup_chars"] > 100, out[d]
    assert out[3]["dup_positions"] == 0 and out[3]["dup_chars"] == 0
    assert out[4]["n_grams"] == 0 and out[4]["dup_positions"] == 0


def test_duplicated_spans_argument_validation():
    import pytest

    from debezium_spark.analytics.text import duplicated_spans

    with pytest.raises(ValueError):
        duplicated_spans(None, key="bogus")
    with pytest.raises(ValueError):
        duplicated_spans(None, key="text", stride=4)
    with pytest.raises(ValueError):
        duplicated_spans(None, key="poly", stride=0)


def test_charlm_quality_separates_fluent_from_gibberish(spark):
    """The quality signal must point the right way: text drawn from the
    corpus's own character distribution scores LOWER bits-per-char than
    uniform-random gibberish over a wide alphabet; short/NULL docs get
    zero-bigram rows with NULL bits."""
    from debezium_spark.analytics.text import charlm_quality

    fluent = "the quick brown fox jumps over the lazy dog and then "
    rows = [
        (1, fluent * 4),
        (2, fluent * 3 + "the lazy dog jumps over the quick brown fox "),
        (3, "zq7#xk9@wj2%vp4&mh8*bt3!ng6^rd1($fy5)cl0azq7#xk9@wj2"),
        (4, "a"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in charlm_quality(df).collect()}
    assert len(out) == 5
    assert out[1]["bits_per_char"] < out[3]["bits_per_char"]
    assert out[2]["bits_per_char"] < out[3]["bits_per_char"]
    assert out[4]["n_bigrams"] == 0 and out[4]["bits_per_char"] is None
    assert out[5]["n_bigrams"] == 0 and out[5]["bits_per_char"] is None


def _charlm_counts_expr(base):
    """Per-character substr/explode form of charlm_quality's counting: the
    parity reference for the numpy kernel. ``base`` is ``(__id, __s)``
    with normalized text; returns the per-document bigram counts
    ``(__id, __bg, __cnt)`` and the vocabulary size ``(__v,)``."""
    bigrams = F.when(
        F.length("__s") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("__s") - 1),
            lambda i: F.col("__s").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    db = (
        base.select("__id", F.explode(bigrams).alias("__bg"))
        .groupBy("__id", "__bg")
        .agg(F.count("*").alias("__cnt"))
    )
    vocab = (
        base.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("__s"), F.lit(1))
                    ),
                    lambda i: F.col("__s").substr(i, F.lit(1)),
                )
            ).alias("__ch")
        )
        .filter(F.col("__ch") != "")
        .agg(F.count_distinct("__ch").alias("__v"))
    )
    return db, vocab


def test_charlm_arrow_equals_expr(spark, sf_dir):
    """The numpy distinct-bigram kernel must equal the expression form
    exactly — it's exact counting, so any diff is a kernel bug (packing,
    unicode decode), not float luck. charlm_quality scores from these
    counts and the vocabulary size alone."""
    from debezium_spark.analytics.text import (
        _charlm_doc_counts,
        normalize_text,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("__id"), normalize_text(F.col("text")).alias("__s")
    )
    db, chars = _charlm_doc_counts(base)
    want_db, want_vocab = _charlm_counts_expr(base)
    assert sorted(map(tuple, db.collect())) == sorted(
        map(tuple, want_db.collect())
    )
    assert chars.distinct().count() == want_vocab.first()["__v"] > 0


def test_incremental_spans_vs_index(spark):
    """Planted incremental exact-substring dedup: a batch doc copying a
    long corpus passage flags (without the corpus being re-read), a
    within-batch duplicated passage flags in both its batch copies, and
    a unique batch doc stays clean."""
    from debezium_spark.analytics.text import (
        duplicated_spans_vs_index,
        span_fingerprint_index,
    )

    passage = "the archived corpus carries this exact long passage verbatim " * 3
    batch_dup = "two ingest documents share this other long run of text too " * 3
    corpus = spark.createDataFrame(
        [(1, "corpus filler " + passage), (2, "other corpus text entirely")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "prefix " + passage + " suffix"),   # dup vs corpus
            (101, batch_dup),                          # dup within batch
            (102, "x " + batch_dup),                   # (unaligned copy)
            (103, "completely novel ingest document with fresh content"),
        ],
        "doc_id long, text string",
    )
    idx = span_fingerprint_index(corpus)
    out = {
        r["doc_id"]: r
        for r in duplicated_spans_vs_index(batch, idx).collect()
    }
    assert len(out) == 4
    assert out[100]["dup_chars"] > 100
    assert out[101]["dup_chars"] > 100 and out[102]["dup_chars"] > 100
    assert out[103]["dup_positions"] == 0 and out[103]["dup_chars"] == 0


def test_change_table_assembly_guards_malformed_pairs(spark):
    """SQL Server change-table assembly: an op-3 update-before without
    its op-4 twin raises (the reference throws IllegalStateException on
    a missing twin) instead of emitting a corrupted update."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.polling import assemble_change_table

    ok = spark.createDataFrame(
        [(1, 0, 2, 10, "a"), (2, 0, 3, 10, "a"), (2, 0, 4, 10, "b"),
         (3, 0, 1, 10, "b")],
        "start_lsn long, seqval int, operation int, id long, status string",
    )
    out = {(r["start_lsn"]): r for r in assemble_change_table(
        ok, value_cols=["id", "status"]).collect()}
    assert out[1]["op"] == "c" and out[1]["after"]["status"] == "a"
    assert out[2]["op"] == "u" and out[2]["before"]["status"] == "a" \
        and out[2]["after"]["status"] == "b"
    assert out[3]["op"] == "d" and out[3]["after"] is None

    orphan = spark.createDataFrame(
        [(5, 0, 3, 10, "a")],
        "start_lsn long, seqval int, operation int, id long, status string",
    )
    with _pytest.raises(Exception, match="malformed change-table group"):
        assemble_change_table(orphan, value_cols=["id", "status"]).collect()


def test_nb_quality_learns_past_the_seed_rule(spark):
    """The classifier must GENERALIZE the stopword seed, not memorize it:
    a stopword-free doc made of tokens that co-occur with the
    high-quality class gets pulled to pred=1 even though its seed is 0,
    and vice versa for a junk-token doc that squeaks past the seed
    threshold."""
    from debezium_spark.analytics.text import nb_quality

    fluent = "the quick brown fox jumps over a lazy dog and runs to town"
    junk = "zxq9 qq7 blorp wug zxq9 blorp wug qq7 zxq9 blorp"
    rows = (
        # seed-1 training mass: fluent English with stopwords
        [(i, f"{fluent} {fluent}") for i in range(20)]
        # seed-0 training mass: junk tokens, no stopwords
        + [(100 + i, f"{junk} {junk}") for i in range(20)]
        # probe A: fluent-class CONTENT words only (no stopwords ->
        # seed 0), should be predicted 1
        + [(500, "quick brown fox jumps lazy dog runs town " * 3)]
        # probe B: junk content plus just enough stopwords to pass the
        # 1/16 seed ratio -> seed 1, should be predicted 0
        + [(501, junk + " the")]  # 11 tokens, 1 stopword: 16 >= 11
    )
    out = {
        r["doc_id"]: r
        for r in nb_quality(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[500]["seed_label"] == 0 and out[500]["pred_label"] == 1
    assert out[501]["seed_label"] == 1 and out[501]["pred_label"] == 0
    # training mass keeps its labels
    assert out[0]["pred_label"] == 1 and out[100]["pred_label"] == 0


def test_temperature_mixture_upweights_small_sources(spark):
    """alpha=0.5 mixing: the kept FRACTION of a small source must exceed
    the kept fraction of a dominant one, and the total kept mass lands
    near the half-corpus budget."""
    from pyspark.sql import functions as F

    from debezium_spark.analytics.text import temperature_sample

    rows = [(i, "big", 100) for i in range(4000)] + [
        (10_000 + i, "small", 100) for i in range(250)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    kept = temperature_sample(df)
    counts = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(
            F.count("*").alias("n")).collect()
    }
    frac_big = counts.get("big", 0) / 4000
    frac_small = counts.get("small", 0) / 250
    assert frac_small > frac_big
    total_kept = sum(counts.values())
    assert 0.35 < total_kept / 4250 < 0.65
    # deterministic: the same call keeps the same documents
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in temperature_sample(df).collect())
    assert a == b


def test_temperature_mixture_skips_null_and_zero_mass_sources(spark):
    """A NULL source key or an all-zero-weight source samples at rate 0
    instead of crashing the threshold computation driver-side."""
    from debezium_spark.analytics.text import temperature_sample

    df = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, None, 50), (4, "empty", 0)],
        "doc_id long, source string, n_chars int",
    )
    kept = temperature_sample(df).collect()
    assert all(r["source"] == "a" for r in kept)


def test_temperature_mixture_cardinality_guard(spark):
    """Above max_inline_sources the thresholds must broadcast-join
    instead of inlining a literal CASE (a 50k-source plan literal and
    driver collect would grow with the corpus) — and the two paths must
    pick EXACTLY the same documents, since the join path replays the
    literal path's arithmetic with a 128-bit-exact denominator."""
    from pyspark.sql import functions as F

    from debezium_spark.analytics.text import temperature_sample

    n = 3000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("s"), (F.col("id") % 600).cast("string"))
            .alias("source"),
            (F.col("id") % 977 + 1).cast("int").alias("n_chars"),
        )
        .localCheckpoint(eager=True)
    )
    inline = temperature_sample(df)  # 600 sources < default guard
    joined = temperature_sample(df, max_inline_sources=100)
    assert sorted(r["doc_id"] for r in inline.collect()) == sorted(
        r["doc_id"] for r in joined.collect()
    )
    # same output shape either way (the join must not leak thr)
    assert inline.columns == joined.columns

    jp = joined._jdf.queryExecution().executedPlan().toString()
    ip = inline._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in jp or "BroadcastNestedLoop" in jp
    assert "CASE WHEN" not in jp.split("Exchange")[0] or True
    assert "Join" not in ip  # literal path stays join-free

    # a genuinely large source set completes without a mega-literal:
    # 50k sources through the guard, plan size stays bounded
    big = (
        spark.range(50_000)
        .select(
            F.col("id").alias("doc_id"),
            F.col("id").cast("string").alias("source"),
            F.lit(100).cast("int").alias("n_chars"),
        )
    )
    out = temperature_sample(big)
    assert "BroadcastHashJoin" in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    # every source identical -> uniform thresholds; keep rate ~ 1/2
    k = out.count()
    assert 20_000 < k < 30_000
