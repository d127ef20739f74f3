"""Curation operator tests: deterministic sampling + decontamination.

The sampling operators' whole contract is determinism across engines and
partitionings, so the tests here pin (a) the md5-prefix hash against a pure
Python reimplementation, (b) partition-count invariance, and (c) the
DuckDB-vs-Spark agreement the oracle gate re-checks at sf0.01.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from topojson_spark.functions import curation as C


def _py_hash(key, salt=""):
    return int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"tok{i % 7} alpha beta gamma delta tok{i % 5} epsilon zeta "
            f"eta theta iota kappa tok{i}", ["en", "de", "fr"][i % 3])
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_key_hash_matches_python_md5(spark):
    df = spark.createDataFrame([(7,), (123456789,)], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", C._key_hash(F.col("doc_id"), "s").alias("h")
        ).collect()
    }
    assert got[7] == _py_hash(7, "s")
    assert got[123456789] == _py_hash(123456789, "s")


def test_hash_sample_deterministic_and_partition_invariant(docs):
    expected = sorted(
        i for i in range(60) if _py_hash(i, "x") < int(0.3 * (1 << 60))
    )
    a = sorted(
        r["doc_id"] for r in C.hash_sample(docs, 0.3, salt="x").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in C.hash_sample(docs.repartition(13), 0.3, salt="x").collect()
    )
    assert a == expected and b == expected
    # independent draws under a different salt
    c = sorted(
        r["doc_id"] for r in C.hash_sample(docs, 0.3, salt="y").collect()
    )
    assert c != a


def test_hash_sample_rate_bounds(docs):
    assert C.hash_sample(docs, 0.0).count() == 0
    assert C.hash_sample(docs, 1.0).count() == 60
    with pytest.raises(ValueError):
        C.hash_sample(docs, 1.5)


def test_stratified_sample_exact_quota_by_hash_order(docs):
    out = C.stratified_sample(docs, "lang", 4, salt="q").collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) == 4 for v in by_lang.values())
    # per stratum, exactly the 4 smallest hashes win
    for lang_idx, lang in enumerate(["en", "de", "fr"]):
        members = [i for i in range(60) if i % 3 == lang_idx]
        want = sorted(sorted(members, key=lambda i: (_py_hash(i, "q"), i))[:4])
        assert sorted(by_lang[lang]) == want


def test_stratified_sample_rates_is_per_stratum_filter(spark, docs):
    rates = spark.createDataFrame(
        [("en", 1.0), ("de", 0.0), ("fr", 0.5)], "lang string, rate double"
    )
    out = C.stratified_sample_rates(docs, "lang", rates, salt="z").collect()
    langs = {r["lang"] for r in out}
    assert "de" not in langs and "en" in langs
    en = sorted(r["doc_id"] for r in out if r["lang"] == "en")
    assert en == [i for i in range(60) if i % 3 == 0]  # rate 1.0 keeps all
    fr = {r["doc_id"] for r in out if r["lang"] == "fr"}
    want_fr = {
        i for i in range(60)
        if i % 3 == 2 and _py_hash(i, "z") < int(0.5 * (1 << 60))
    }
    assert fr == want_fr


def test_shingle_ngrams_window_and_short_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, "  x   y  z ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", C.shingle_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n
    assert out[3] == []
    assert out[4] == ["x y z"]  # whitespace runs collapse


def test_decontaminate_counts_distinct_shared_shingles(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # shares 2 trigram spans
            (2, "nothing in common here at all"),
            (3, "quick brown fox quick brown fox"),  # repeated shingle: 1 hit
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "see the quick brown fox jumps")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_hits"]
        for r in C.decontaminate(docs, bench, n=3).collect()
    }
    # doc 1: "the quick brown", "quick brown fox", "brown fox jumps" all in
    # bench; doc 3: only "quick brown fox" (counted once despite repeats)
    assert out == {1: 3, 3: 1}


def test_decontaminate_shuffle_join_path_agrees(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 4} common phrase tail w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") < 3).select("text")
    a = sorted(map(tuple, C.decontaminate(
        docs.where(F.col("doc_id") >= 3), bench, n=3
    ).collect()))
    b = sorted(map(tuple, C.decontaminate(
        docs.where(F.col("doc_id") >= 3), bench, n=3,
        broadcast_benchmark=False,
    ).collect()))
    assert a == b and len(a) > 0


def test_decontaminate_probes_before_any_exchange(spark):
    """Scale-shape pin: the corpus side must reach the broadcast probe
    straight from the scan — the only Exchange in the plan is the per-doc
    count over MATCHING shingles (a full-corpus distinct before the join
    would shuffle every shingle of every document)."""
    from topojson_spark.functions.curation import decontaminate

    docs = spark.range(0, 50).selectExpr(
        "id AS doc_id", "concat('w', id % 7, ' x y z a b c') AS text"
    )
    bench = spark.createDataFrame(
        [("w0 x y z a b c",)], "text string"
    )
    plan = (
        decontaminate(docs, bench, n=6, broadcast_benchmark=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan


def test_decontaminate_auto_sizes_build_side(spark):
    """broadcast_benchmark=None sizes the distinct-shingle build side and
    records the decision: under the byte cap -> broadcast join; over the
    cap (forced with a tiny cap) -> shuffle join. All three paths must
    return the identical result (VERDICT r3 wrong #3 / advice #4)."""
    from topojson_spark.plans.metrics import StageMetrics

    docs = spark.createDataFrame(
        [(i, f"w{i % 4} common phrase tail w{i}") for i in range(20)],
        "doc_id long, text string",
    )
    corpus = docs.where(F.col("doc_id") >= 3)
    bench = docs.where(F.col("doc_id") < 3).select("text")
    expected = sorted(
        map(tuple, C.decontaminate(
            corpus, bench, n=3, broadcast_benchmark=True
        ).collect())
    )
    assert len(expected) > 0

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # auto, generous cap -> broadcast chosen, decision recorded
    m1 = StageMetrics()
    out1 = C.decontaminate(corpus, bench, n=3, metrics=m1)
    assert sorted(map(tuple, out1.collect())) == expected
    rec1 = m1.snapshot()["decontaminate"]
    assert rec1["broadcast"] is True
    assert rec1["n_benchmark_shingles"] > 0
    assert rec1["est_build_bytes"] > 48 * rec1["n_benchmark_shingles"]
    assert "BroadcastHashJoin" in plan_of(out1)

    # auto, 1-byte cap -> no broadcast hint; with the planner's own
    # small-table broadcasting disabled the join must be a shuffle join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m2 = StageMetrics()
        out2 = C.decontaminate(
            corpus, bench, n=3, metrics=m2, auto_broadcast_max_bytes=1
        )
        assert sorted(map(tuple, out2.collect())) == expected
        rec2 = m2.snapshot()["decontaminate"]
        assert rec2["broadcast"] is False
        assert rec2["n_benchmark_shingles"] == rec1["n_benchmark_shingles"]
        assert "BroadcastHashJoin" not in plan_of(out2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # forced choice skips the sizing pass but still records it
    m3 = StageMetrics()
    C.decontaminate(
        corpus, bench, n=3, metrics=m3, broadcast_benchmark=False
    )
    assert m3.snapshot()["decontaminate"]["broadcast"] is False
    assert m3.snapshot()["decontaminate"]["n_benchmark_shingles"] is None


# ---------------------------------------------------------------------------
# pack_sequences / prefix_sum


def test_prefix_sum_exclusive_and_partition_invariant(spark):
    from topojson_spark.plans.ids import prefix_sum

    rows = [(i, (i * 37) % 11 + 1) for i in range(200)]
    expected = {}
    acc = 0
    for i, v in rows:  # rows already in id order
        expected[i] = acc
        acc += v

    for nparts in (1, 3, 16):
        df = spark.createDataFrame(rows, "id long, v long").repartition(nparts)
        got = {
            r["id"]: r["p"]
            for r in prefix_sum(df, ["id"], "v", "p").collect()
        }
        assert got == expected, f"nparts={nparts}"


def test_prefix_sum_empty_and_single_row(spark):
    from topojson_spark.plans.ids import prefix_sum

    empty = spark.createDataFrame([], "id long, v long")
    assert prefix_sum(empty, ["id"], "v", "p").count() == 0

    one = spark.createDataFrame([(5, 42)], "id long, v long")
    assert prefix_sum(one, ["id"], "v", "p").collect()[0]["p"] == 0


def test_dense_index_lazy_matches_eager(spark):
    """The two-phase range-partition mint assigns each row its rank in the
    total order (ties on the lead, negatives, NULL leads first), and the
    narrow key_cols path gives the same ids. (The name dates from the
    bucketed mint this test once cross-checked; a Python rank of the same
    order is now the reference.)"""
    import random

    from topojson_spark.plans.ids import dense_index

    random.seed(7)
    rows = [
        (random.randint(-50, 50), random.randint(0, 5), f"k{i}")
        for i in range(1000)
    ]
    # NULL leads sort FIRST under Spark's default ascending order
    rows += [(None, i % 3, f"n{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "a long, b int, k string").repartition(7)
    order = ["a", "b", "k"]
    ranked = sorted(
        rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1], r[2])
    )
    want = {r[2]: i for i, r in enumerate(ranked)}
    got = {r["k"]: r["idx"] for r in dense_index(df, order).collect()}
    assert got == want and len(got) == 1020
    assert max(got[f"n{i}"] for i in range(20)) < 20  # NULLs first
    narrow = {
        r["k"]: r["idx"]
        for r in dense_index(df, order, key_cols=["k"]).collect()
    }
    assert narrow == want


def test_dense_index_lazy_degenerate_inputs(spark):
    """Constant, empty and string-led inputs still mint dense ids."""
    from topojson_spark.plans.ids import dense_index

    # constant leading column: ids still dense and ordered by the
    # remaining cols
    const = spark.createDataFrame(
        [(1, i) for i in range(50)], "a long, b int"
    )
    got = sorted(
        (r["b"], r["idx"]) for r in dense_index(const, ["a", "b"]).collect()
    )
    assert got == [(i, i) for i in range(50)]
    empty = spark.createDataFrame([], "a long, b int")
    assert dense_index(empty, ["a", "b"]).count() == 0
    s = dense_index(
        spark.createDataFrame([("b",), ("a",)], "s string"), ["s"]
    ).collect()
    assert sorted((r["s"], r["idx"]) for r in s) == [("a", 0), ("b", 1)]


def test_pack_sequences_window_math(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5 + (i * 13) % 9)))
         for i in range(40)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in C.pack_sequences(docs, max_tokens=16).collect()
    }
    acc = 0
    for i in range(40):
        n = 5 + (i * 13) % 9
        r = out[i]
        assert r["n_tokens"] == n
        assert r["start_tok"] == acc
        assert r["pack_id"] == acc // 16
        assert r["pack_offset"] == acc % 16
        acc += n


def test_quantile_threshold_filter(spark):
    # distinct buckets: keep_frac 0.3 of 10 rows -> quota 3 -> top 3 scores
    df = spark.createDataFrame(
        [(i, i / 10.0) for i in range(10)], "doc_id long, score double"
    )
    got = sorted(
        r["doc_id"]
        for r in C.quantile_threshold_filter(df, "score", 0.3, grid=10).collect()
    )
    assert got == [7, 8, 9]

    # tie closure: the whole boundary bucket survives (smallest superset)
    ties = spark.createDataFrame(
        [(0, 0.5), (1, 0.5), (2, 0.5), (3, 0.9)], "doc_id long, score double"
    )
    assert (
        C.quantile_threshold_filter(ties, "score", 0.25, grid=10).count() == 1
    )
    assert (
        C.quantile_threshold_filter(ties, "score", 0.5, grid=10).count() == 4
    )

    # partition invariance + keep_frac >= 1 keeps everything
    for nparts in (1, 7):
        out = C.quantile_threshold_filter(
            df.repartition(nparts), "score", 0.3, grid=10
        )
        assert sorted(r["doc_id"] for r in out.collect()) == [7, 8, 9]
    assert C.quantile_threshold_filter(df, "score", 1.0, grid=10).count() == 10


def test_quantile_threshold_filter_null_scores(spark):
    """NULL scores are excluded from both the quota and the survivor set —
    they must neither crash the driver cumsum nor inflate the quota."""
    df = spark.createDataFrame(
        [(i, i / 10.0) for i in range(10)] + [(100, None), (101, None)],
        "doc_id long, score double",
    )
    got = sorted(
        r["doc_id"]
        for r in C.quantile_threshold_filter(df, "score", 0.3, grid=10).collect()
    )
    # quota = ceil(0.3 * 10 non-null) = 3, NULL rows never survive
    assert got == [7, 8, 9]

    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, score double"
    )
    # degenerate: nothing scoreable -> unchanged input (documented shape)
    assert C.quantile_threshold_filter(all_null, "score", 0.5).count() == 2


def test_quantile_threshold_filter_grid_bounds(spark):
    """Driver memory is bounded by construction: absurd grids clamp to
    _GRID_CAP (same survivors — resolution saturates long before), and a
    non-positive grid raises."""
    df = spark.createDataFrame(
        [(i, i / 10.0) for i in range(10)], "doc_id long, score double"
    )
    out = C.quantile_threshold_filter(df, "score", 0.3, grid=10**12)
    assert sorted(r["doc_id"] for r in out.collect()) == [7, 8, 9]
    with pytest.raises(ValueError):
        C.quantile_threshold_filter(df, "score", 0.3, grid=0)


def _brute_mixture(spark_df, budget_of, salt=""):
    """Reference semantics: per-source greedy keep in (hash, doc_id) order
    while the EXCLUSIVE token prefix is below the source's budget."""
    from topojson_spark.functions.text import tokens_col
    from pyspark.sql import Window

    narrow = spark_df.select(
        "doc_id", "source",
        C._key_hash(F.col("doc_id"), salt).alias("hk"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("hk").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = narrow.withColumn(
        "excl", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).collect()
    return {
        (r["doc_id"], r["source"], r["n_tokens"])
        for r in rows
        if budget_of.get(r["source"]) is not None
        and r["excl"] < budget_of[r["source"]]
    }


@pytest.fixture(scope="module")
def mix_docs(spark):
    # skewed: srcA has 50 docs of 12 tokens, srcB 5 docs, srcC 2 docs
    rows = (
        [(i, "w " * 11 + "end", "srcA") for i in range(50)]
        + [(100 + i, "a b c d e", "srcB") for i in range(5)]
        + [(200 + i, "x y", "srcC") for i in range(2)]
    )
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_token_budget_mixture_matches_brute_force_window(mix_docs):
    budgets = {"srcA": 100, "srcB": 7, "srcC": 1}
    got = {
        tuple(r)
        for r in C.token_budget_mixture(mix_docs, budgets, salt="t").collect()
    }
    assert got == _brute_mixture(mix_docs, budgets, salt="t")
    # boundary doc included: srcA survivors' tokens overshoot 100, but
    # removing the costliest survivor would land under budget
    a_toks = sorted(t for _, s, t in got if s == "srcA")
    assert sum(a_toks) >= 100 and sum(a_toks) - a_toks[-1] < 100
    # budget 1 still yields exactly one srcC doc (exclusive-prefix rule)
    assert sum(1 for _, s, _ in got if s == "srcC") == 1


def test_token_budget_mixture_coarse_buckets_agree(mix_docs):
    # bucket_shift 58 -> 4 buckets: many docs per bucket, exercising the
    # below-cutoff fast path AND the boundary window together
    budgets = {"srcA": 240, "srcB": 1000}
    got = {
        tuple(r)
        for r in C.token_budget_mixture(
            mix_docs, budgets, salt="t", bucket_shift=58
        ).collect()
    }
    assert got == _brute_mixture(mix_docs, budgets, salt="t")
    # srcB budget exceeds its total: everything survives
    assert sum(1 for _, s, _ in got if s == "srcB") == 5


def test_token_budget_mixture_drops_and_defaults(mix_docs):
    # zero budget and missing-source-without-default both drop
    got = C.token_budget_mixture(mix_docs, {"srcA": 0, "srcB": 7}).collect()
    assert {r["source"] for r in got} == {"srcB"}
    # default_budget covers unbudgeted sources
    got2 = C.token_budget_mixture(mix_docs, {}, default_budget=10).collect()
    assert {r["source"] for r in got2} == {"srcA", "srcB", "srcC"}


def test_token_budget_mixture_partition_invariant(mix_docs):
    budgets = {"srcA": 150, "srcB": 7, "srcC": 3}
    one = {
        tuple(r)
        for r in C.token_budget_mixture(
            mix_docs.repartition(1), budgets, salt="t"
        ).collect()
    }
    many = {
        tuple(r)
        for r in C.token_budget_mixture(
            mix_docs.repartition(13), budgets, salt="t"
        ).collect()
    }
    assert one == many == _brute_mixture(mix_docs, budgets, salt="t")


def test_token_budget_mixture_validates_shift(mix_docs):
    with pytest.raises(ValueError):
        C.token_budget_mixture(mix_docs, {"srcA": 1}, bucket_shift=61)


def test_token_budget_mixture_plan_shape(mix_docs):
    """Scale-shape pin: the survivor resolution is a BROADCAST spec join
    and the only sort in the plan is the boundary-bucket window — no
    global sort, no per-source shuffle of the full corpus beyond the
    histogram exchange."""
    plan = (
        C.token_budget_mixture(mix_docs, {"srcA": 100, "srcB": 7}, salt="t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the boundary window's sort is LOCAL (within source partitions,
    # printed as "Sort [...], false"); a global sort ("], true") would
    # betray a full-corpus order-by
    assert "], true" not in plan


def test_weighted_sample_matches_python_and_is_monotonic(docs):
    import math

    # p_i = (doc_id % 10) / 10 -> deciles of keep probability
    prob = (F.col("doc_id") % 10) / F.lit(10.0)
    got = sorted(
        r["doc_id"]
        for r in C.weighted_sample(docs, prob, salt="w").collect()
    )
    want = sorted(
        i
        for i in range(60)
        if _py_hash(i, "w") < math.floor((i % 10) / 10.0 * (1 << 60))
    )
    assert got == want
    # p=0 rows (doc_id % 10 == 0) can never survive
    assert all(d % 10 != 0 for d in got)
    # monotonic: doubling every probability only ADDS survivors
    got2 = {
        r["doc_id"]
        for r in C.weighted_sample(docs, prob * 2, salt="w").collect()
    }
    assert set(got) <= got2
    # p >= 1 (clamped) keeps everything
    assert C.weighted_sample(docs, F.lit(7.5), salt="w").count() == 60
    # NULL probability -> dropped, not an error
    nullp = F.when(F.col("doc_id") < 30, 1.0)
    assert C.weighted_sample(docs, nullp, salt="w").count() == 30


def test_topk_per_group_matches_single_window(spark):
    """Two-phase salted selection must equal the naive one-window top-k,
    including ties and groups smaller than k."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from topojson_spark.functions.curation import topk_per_group

    random.seed(3)
    rows = [(f"d{i}", f"s{i % 5}", random.randint(0, 30)) for i in range(500)]
    rows += [("tiny1", "s_tiny", 7)]  # group smaller than k
    df = spark.createDataFrame(rows, "doc_id string, source string, score long")

    for n_salts in (1, 8, 64):
        got = {
            (r["source"], r["rank"]): (r["doc_id"], r["score"])
            for r in topk_per_group(
                df, "source", "score", k=3, n_salts=n_salts
            ).collect()
        }
        w = Window.partitionBy("source").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        want = {
            (r["source"], r["rank"]): (r["doc_id"], r["score"])
            for r in df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .collect()
        }
        assert got == want, f"n_salts={n_salts}"
    assert ("s_tiny", 1) in want and ("s_tiny", 2) not in want

    import pytest as _pt

    with _pt.raises(ValueError):
        topk_per_group(df, "source", "score", k=0)
