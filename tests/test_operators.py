"""Operator unit tests: deterministic dedup, exact content dedup, vector
functions, typed CSV reading with corrupt-record capture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_spark.functions.vectors import cosine, dot, l2_norm
from lakehouse_architecture_spark.operators.dedup import (
    dedupe_by_key,
    exact_dedupe,
    normalize_text,
)
from lakehouse_architecture_spark.schemas import ORDERS_SCHEMA
from lakehouse_architecture_spark.sources.readers import (
    read_csv_typed,
    split_corrupt,
)


def test_dedupe_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "z"), (1, "a"), (2, "m")], "k int, v string"
    )
    out = dedupe_by_key(df, ["k"], [F.asc("v")]).collect()
    assert {(r.k, r.v) for r in out} == {(1, "a"), (2, "m")}
    # default ordering (non-key columns asc) is also deterministic
    out2 = dedupe_by_key(df, ["k"]).collect()
    assert {(r.k, r.v) for r in out2} == {(1, "a"), (2, "m")}


def test_exact_dedupe_normalized_content(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),   # same after normalization
            (3, "different doc"),
        ],
        "doc_id long, text string",
    )
    out = exact_dedupe(df, "text", "doc_id")
    assert {r.doc_id for r in out.collect()} == {1, 3}  # min id survives


def test_normalize_text(spark):
    df = spark.createDataFrame([("  A-b c!! d  ",)], "t string")
    assert df.select(normalize_text(F.col("t")).alias("n")).collect()[0].n == (
        "a b c d"
    )


def test_vector_functions(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 2.0], [1.0, 0.0, 0.0])],
        "a array<float>, b array<float>",
    )
    row = df.select(
        dot("a", "b").alias("d"),
        l2_norm("a").alias("n"),
        cosine("a", "b").alias("c"),
    ).collect()[0]
    assert row.d == 1.0
    assert row.n == 3.0
    assert row.c == pytest.approx(1.0 / 3.0)


def test_read_csv_typed_corrupt_capture(spark, tmp_path):
    p = tmp_path / "orders.csv"
    p.write_text(
        "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
        "90,501,1990,2025-04-01T11:27:00,229.53,2025-04-01\n"
        "not,an,int,row,xx,yy\n"
    )
    df = read_csv_typed(spark, str(p), ORDERS_SCHEMA)
    parsed, corrupt = split_corrupt(df)
    assert parsed.count() == 1
    assert corrupt.count() == 1
    assert corrupt.collect()[0]._corrupt_record.startswith("not,an,int")


def test_read_csv_typed_glob_equals_the_file_list(spark, tmp_path):
    """A local glob is expanded to its sorted files before Spark sees
    it (handed the literal glob, Spark stats it as a streaming-sink
    metadata directory and logs a FileNotFoundException): the glob read
    reads exactly the matched files, row for row, and a glob matching
    nothing still fails in Spark."""
    from pyspark.errors import AnalysisException

    header = "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
    for i, day in enumerate(["2025-04-02", "2025-04-01"]):
        (tmp_path / f"day{i}.csv").write_text(
            header + f"{90 + i},{501 + i},1990,{day}T11:27:00,1.5,{day}\n"
        )
    (tmp_path / "notes.txt").write_text("not a csv\n")
    files = sorted(str(p) for p in tmp_path.glob("*.csv"))

    by_glob = read_csv_typed(spark, str(tmp_path / "*.csv"), ORDERS_SCHEMA)
    by_list = read_csv_typed(spark, files[0], ORDERS_SCHEMA).unionByName(
        read_csv_typed(spark, files[1], ORDERS_SCHEMA)
    )
    assert sorted(by_glob.collect()) == sorted(by_list.collect())
    assert sorted(
        f.rsplit("/", 1)[1] for f in by_glob.inputFiles()
    ) == ["day0.csv", "day1.csv"]

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_csv_typed(spark, str(tmp_path / "*.json"), ORDERS_SCHEMA)


def test_read_csv_inferred_freeze_roundtrip(spark, tmp_path):
    """The opt-in inference escape hatch must type columns sensibly and
    its inferred schema must be freezable into the typed reader (the
    documented explore-then-declare workflow)."""
    from lakehouse_architecture_spark.sources.readers import read_csv_inferred

    p = tmp_path / "explore.csv"
    p.write_text(
        "id,label,score,seen\n"
        "1,alpha,0.5,2025-04-01T11:27:00\n"
        "2,beta,1.25,2025-04-02T09:00:00\n"
    )
    inferred = read_csv_inferred(spark, str(p))
    types = dict(inferred.dtypes)
    assert types["id"] == "int"
    assert types["label"] == "string"
    assert types["score"] == "double"
    assert types["seen"].startswith("timestamp")

    # freeze: the inferred schema drives the production typed reader
    frozen = read_csv_typed(spark, str(p), inferred.schema)
    parsed, corrupt = split_corrupt(frozen)
    assert parsed.count() == 2 and corrupt.count() == 0
    assert [r.id for r in parsed.orderBy("id").collect()] == [1, 2]


def test_read_json_typed_corrupt_capture(spark, tmp_path):
    from lakehouse_architecture_spark.sources.readers import read_json_typed

    p = tmp_path / "orders.jsonl"
    p.write_text(
        '{"order_num": 90, "order_id": 501, "user_id": 1990, '
        '"order_timestamp": "2025-04-01T11:27:00", "total_amount": 229.53, '
        '"date": "2025-04-01"}\n'
        "{this is not json at all\n"
    )
    df = read_json_typed(spark, str(p), ORDERS_SCHEMA)
    parsed, corrupt = split_corrupt(df)
    assert parsed.count() == 1
    assert parsed.collect()[0].order_id == 501
    assert corrupt.count() == 1
    assert corrupt.collect()[0]._corrupt_record.startswith("{this")


def test_read_xml_typed(spark, tmp_path):
    """Native Spark-4 XML source with the engine's typed PERMISSIVE
    contract: declared schema, no inference, malformed rows captured."""
    from lakehouse_architecture_spark.sources.readers import read_xml_typed

    p = tmp_path / "orders.xml"
    p.write_text(
        "<orders>"
        "<order><order_num>90</order_num><order_id>501</order_id>"
        "<user_id>1990</user_id>"
        "<order_timestamp>2025-04-01T11:27:00</order_timestamp>"
        "<total_amount>229.53</total_amount><date>2025-04-01</date></order>"
        "<order><order_num>bad-int</order_num><order_id>502</order_id>"
        "<user_id>2</user_id>"
        "<order_timestamp>2025-04-02T10:00:00</order_timestamp>"
        "<total_amount>1.0</total_amount><date>2025-04-02</date></order>"
        "</orders>"
    )
    df = read_xml_typed(spark, str(p), ORDERS_SCHEMA, row_tag="order")
    parsed, corrupt = split_corrupt(df)
    good = parsed.filter("order_num IS NOT NULL").collect()
    assert [r.order_id for r in good] == [501]
    assert good[0].total_amount == 229.53
    # the malformed row is captured, not silently dropped
    assert corrupt.count() == 1
    assert "bad-int" in corrupt.collect()[0]._corrupt_record


def test_snapshot_diff_classifies(spark):
    from lakehouse_architecture_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 25.0), (3, None), (4, None), (5, 50.0)], "k long, v double"
    )
    d = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    assert d == {
        1: "deleted",
        2: "updated",
        3: "unchanged",   # NULL == NULL under null-safe compare
        4: "updated",     # value -> NULL is an update
        5: "inserted",
    }


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from lakehouse_architecture_spark.sources.readers import read_orc

    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(100)],
        "id long, s string, v double",
    )
    path = str(tmp_path / "t.orc")
    df.write.format("orc").mode("overwrite").save(path)
    back = read_orc(spark, path).filter(F.col("id") >= 90).select("id", "v")
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,90" in plan


def test_scd2_lifecycle(spark):
    """bootstrap -> apply(change + new key + unchanged) -> as-of query."""
    from lakehouse_architecture_spark.operators.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_bootstrap,
    )

    snap1 = spark.createDataFrame(
        [(1, "BUILDING", "alice"), (2, "AUTO", "bob")],
        "cust_id int, segment string, name string",
    )
    hist = scd2_bootstrap(snap1, "cust_id", ["segment", "name"], "2024-01-01")
    assert hist.count() == 2 and hist.filter("is_current").count() == 2

    updates = spark.createDataFrame(
        [
            (1, "MACHINERY", "alice"),  # changed attr -> close + reopen
            (2, "AUTO", "bob"),         # identical -> untouched
            (3, "HOUSEHOLD", "carol"),  # new key -> insert
        ],
        "cust_id int, segment string, name string",
    )
    hist2 = scd2_apply(hist, updates, "cust_id", ["segment", "name"], "2024-06-01")
    rows = {(r.cust_id, r.segment, str(r.valid_from), str(r.valid_to), r.is_current)
            for r in hist2.collect()}
    assert rows == {
        (1, "BUILDING", "2024-01-01", "2024-06-01", False),
        (1, "MACHINERY", "2024-06-01", "9999-12-31", True),
        (2, "AUTO", "2024-01-01", "9999-12-31", True),
        (3, "HOUSEHOLD", "2024-06-01", "9999-12-31", True),
    }

    # as-of reconstruction on both sides of the change date
    before = {(r.cust_id, r.segment) for r in scd2_as_of(hist2, "2024-03-01").collect()}
    assert before == {(1, "BUILDING"), (2, "AUTO")}
    after = {(r.cust_id, r.segment) for r in scd2_as_of(hist2, "2024-07-01").collect()}
    assert after == {(1, "MACHINERY"), (2, "AUTO"), (3, "HOUSEHOLD")}

    # idempotency: re-applying the same snapshot changes nothing
    hist3 = scd2_apply(hist2, updates, "cust_id", ["segment", "name"], "2024-07-15")
    assert hist3.count() == hist2.count()


def test_gen_testdata_deterministic(tmp_path):
    """CI's synthetic tables must be byte-identical across runs (same
    seed, same numpy/pyarrow) — a drifting generator would make CI
    failures unreproducible."""
    import hashlib
    import os
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from gen_testdata import generate

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate(0.001, a)
    generate(0.001, b)
    names = sorted(os.listdir(a))
    assert "documents.parquet" in names and len(names) == 10
    for f in names:
        ha = hashlib.md5(open(os.path.join(a, f), "rb").read()).hexdigest()
        hb = hashlib.md5(open(os.path.join(b, f), "rb").read()).hexdigest()
        assert ha == hb, f


def test_grouped_percentiles_null_groups_and_values(spark):
    """A NULL group key is a real group (null-safe joins); NULL
    measurement values are excluded from the order statistic."""
    from lakehouse_architecture_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None),
        (None, 10.0), (None, 20.0),
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    got = {
        (r.grp, r.pct): (r.n_rows, r.pct_value)
        for r in grouped_exact_percentiles(df, ["grp"], "value", [50]).collect()
    }
    assert got == {("a", 50): (3, 2.0), (None, 50): (2, 10.0)}


# --- count-min sketch ---------------------------------------------------


def test_cms_estimate_ge_exact_and_tiny_width_collisions(spark):
    from lakehouse_architecture_spark.operators.cms import (
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + [None]],
        "k string",
    )
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    # width 1: every key shares the single cell per hash row, so every
    # estimate is the total non-null count — the worst-case upper bound
    sk1 = cms_counters(df, "k", depth=2, width=1)
    est1 = {
        r.k: r.est_cnt
        for r in cms_estimate(sk1, keys, "k", depth=2, width=1).collect()
    }
    assert est1 == {"a": 10, "b": 10, "c": 10}
    # generous width: overwhelmingly likely collision-free at 3 keys,
    # but the guaranteed property is one-sided: est >= exact
    sk = cms_counters(df, "k", depth=4, width=4096)
    est = {
        r.k: r.est_cnt
        for r in cms_estimate(sk, keys, "k", depth=4, width=4096).collect()
    }
    exact = {"a": 5, "b": 3, "c": 2}
    assert all(est[k] >= exact[k] for k in exact)
    assert sum(r.cnt for r in sk.filter("__cms_d = 0").collect()) == 10


def test_cms_counters_merge_equals_global(spark):
    from lakehouse_architecture_spark.operators.cms import cms_counters

    df = spark.createDataFrame(
        [(g, k) for g in ("x", "y") for k in ["a", "a", "b", "c"]],
        "g string, k string",
    )
    grouped = cms_counters(df, "k", depth=3, width=64, group_cols=("g",))
    merged = grouped.groupBy("__cms_d", "__cms_bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    direct = cms_counters(df, "k", depth=3, width=64)
    diff = merged.join(
        direct, ["__cms_d", "__cms_bucket"], "full_outer"
    ).filter(
        ~merged.cnt.eqNullSafe(direct.cnt)
    )
    assert diff.count() == 0


def test_cms_validates_params(spark):
    from lakehouse_architecture_spark.operators.cms import cms_counters

    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="depth"):
        cms_counters(df, "k", depth=0)
    with pytest.raises(ValueError, match="width"):
        cms_counters(df, "k", width=0)


# --- pagerank -----------------------------------------------------------


# a small directed graph with a dangling node (4) and a hub (1); the
# weights and seeds feed the weighted and personalized variants
_PR_EDGES = [(1, 2), (1, 3), (2, 1), (3, 1), (3, 2), (2, 4), (5, 1)]
_PR_WEIGHTS = [3.0, 1.0, 2.0, 5.0, 0.5, 1.0, 4.0]
_PR_SEEDS = [1, 4]


def _reference_pagerank(variant, d=0.85, iters=12):
    """Pure-Python damped iteration, each variant's update written out."""
    nodes = sorted({u for e in _PR_EDGES for u in e})
    n = len(nodes)
    weights = _PR_WEIGHTS if variant == "weighted" else [1] * len(_PR_EDGES)
    out = {v: 0 for v in nodes}
    for (u, _v), w in zip(_PR_EDGES, weights):
        out[u] += w
    if variant == "personalized":
        s = {v: (1.0 / len(_PR_SEEDS) if v in _PR_SEEDS else 0.0) for v in nodes}
        pr = dict(s)
    else:
        pr = {v: 1.0 for v in nodes}
    for _ in range(iters):
        dang = sum(pr[v] for v in nodes if out[v] == 0)
        inflow = {v: 0.0 for v in nodes}
        for (u, v), w in zip(_PR_EDGES, weights):
            inflow[v] += pr[u] / out[u] * w
        if variant == "personalized":
            pr = {v: (1 - d) * s[v] + d * (inflow[v] + dang * s[v]) for v in nodes}
        else:
            pr = {v: (1 - d) + d * (inflow[v] + dang / n) for v in nodes}
    return pr


@pytest.mark.parametrize("variant", ["pagerank", "personalized", "weighted"])
def test_pagerank_matches_reference_iteration(spark, variant):
    """12 rounds, and a single round, of each variant equal the
    pure-Python iteration: uniform teleport, seed teleport (sv) and
    weighted shares, each over a graph with a dangling node. The trace
    holds round 0 and one certificate per round."""
    from lakehouse_architecture_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )

    rows = [e + (w,) for e, w in zip(_PR_EDGES, _PR_WEIGHTS)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    for iters in (1, 12):
        if variant == "pagerank":
            r = pagerank(df.drop("w"), iters=iters)
        elif variant == "personalized":
            seeds = spark.createDataFrame([(v,) for v in _PR_SEEDS], "node long")
            r = personalized_pagerank(df.drop("w"), seeds, iters=iters)
            assert r["n_seeds"] == len(_PR_SEEDS)
        else:
            r = weighted_pagerank(df, iters=iters)
        got = {row.node: row.pr for row in r["ranks"].collect()}
        want = _reference_pagerank(variant, iters=iters)

        assert r["n_nodes"] == len(want)
        assert set(got) == set(want)
        assert all(abs(got[v] - want[v]) < 1e-9 for v in want)
        # total mass conserved: n under the uniform teleport, 1 when seeded
        mass = 1.0 if variant == "personalized" else len(want)
        assert abs(sum(got.values()) - mass) < 1e-9
        assert len(r["trace"]) == iters + 1
        assert r["delta_max"] == r["trace"][-1]["delta_max"] > 0
    # after 12 rounds the hub out-ranks the dangling leaf
    assert got[1] > got[4]


@pytest.mark.parametrize("variant", ["pagerank", "personalized", "weighted"])
def test_pagerank_rejects_null_endpoints(spark, variant):
    """Rank sent to a null dst never joins back to a node, so a null
    endpoint would lose mass silently: every variant must refuse."""
    from lakehouse_architecture_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )

    for edges in ([(1, 2), (2, 1), (2, None), (3, 1)], [(None, 1), (1, 2)]):
        df = spark.createDataFrame(edges, "src long, dst long")
        with pytest.raises(ValueError, match="non-null edge endpoints"):
            if variant == "pagerank":
                pagerank(df, iters=2)
            elif variant == "personalized":
                seeds = spark.createDataFrame([(1,)], "node long")
                personalized_pagerank(df, seeds, iters=2)
            else:
                weighted_pagerank(df.withColumn("w", F.lit(1.0)), iters=2)


def test_pagerank_validates_params(spark):
    from lakehouse_architecture_spark.operators.pagerank import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)


# --- logistic regression ------------------------------------------------


def test_train_logistic_separable(spark):
    from lakehouse_architecture_spark.operators.logreg import train_logistic

    rows = [(float(i), 1.0, 1) for i in range(5, 15)] + [
        (float(-i), 1.0, 0) for i in range(5, 15)
    ]
    df = spark.createDataFrame(rows, "f1 double, f2 double, y int")
    r = train_logistic(df, ["f1", "f2"], "y", lr=1.0, iters=40)
    assert r["n"] == 20 and r["n_pos"] == 10
    assert r["accuracy"] == 1.0
    assert r["final_loss"] < r["initial_loss"]
    assert r["final_loss"] < 0.2
    # f2 is constant: standardized to zero, weight must stay ~0 (no NaN)
    assert abs(r["weights"][1]) < 1e-12
    assert all(w == w for w in r["weights"])  # no NaN anywhere


def test_train_logistic_validates_params(spark):
    from lakehouse_architecture_spark.operators.logreg import train_logistic

    df = spark.createDataFrame([(1.0, 1)], "f double, y int")
    with pytest.raises(ValueError, match="feature_cols"):
        train_logistic(df, [], "y")
    with pytest.raises(ValueError, match="iters"):
        train_logistic(df, ["f"], "y", iters=0)


def test_score_logistic_applies_trained_model(spark):
    from lakehouse_architecture_spark.operators.logreg import (
        score_logistic,
        train_logistic,
    )

    rows = [(float(i), 1) for i in range(5, 15)] + [
        (float(-i), 0) for i in range(5, 15)
    ]
    df = spark.createDataFrame(rows, "f double, y int")
    model = train_logistic(df, ["f"], "y", iters=40)
    scored = score_logistic(df, ["f"], model).collect()
    assert all((r.p_keep > 0.5) == (r.y == 1) for r in scored)
    assert all(0.0 <= r.p_keep <= 1.0 for r in scored)
    with pytest.raises(ValueError, match="features vs"):
        score_logistic(df, ["f", "f"], model)


def test_bloom_prefilter_no_false_negatives_and_superset(spark):
    from lakehouse_architecture_spark.operators.bloom import (
        bloom_build,
        bloom_pass_keys,
        bloom_prefilter,
    )

    dim = spark.createDataFrame([(i,) for i in range(0, 200, 2)], "k long")
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(200)], "k long, v long"
    )
    pruned = bloom_prefilter(fact, "k", dim, "k", m_bits=1024, k=3)
    got = {r.k for r in pruned.collect()}
    true = set(range(0, 200, 2))
    # no false negatives: every true match survives the prefilter
    assert true <= got
    # prefilter + exact join == exact join (false positives eliminated)
    exact = fact.join(dim.withColumnRenamed("k", "k"), "k", "left_semi")
    after = pruned.join(dim, "k", "left_semi")
    assert sorted(r.k for r in after.collect()) == sorted(
        r.k for r in exact.collect()
    )
    # the filter relation is word-indexed and tiny
    words = bloom_build(dim, "k", 1024, 3)
    assert words.count() <= 1024 // 32
    # determinism: same inputs -> same passing set
    again = bloom_pass_keys(
        fact.select("k").distinct(), "k", words, 1024, 3
    )
    got2 = {r.k for r in again.collect()}
    passk = bloom_pass_keys(
        fact.select("k").distinct(), "k", words, 1024, 3
    )
    assert got2 == {r.k for r in passk.collect()}


def test_bloom_build_rejects_bad_width(spark):
    import pytest as _pytest

    from lakehouse_architecture_spark.operators.bloom import bloom_build

    df = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError, match="multiple"):
        bloom_build(df, "k", 1000, 3)


def test_fuzzy_pairs_d1_complete_and_verified(spark):
    from lakehouse_architecture_spark.operators.fuzzy import fuzzy_pairs_d1

    rows = [
        (1, "cat"),    # sub: cut, ins: cats
        (2, "cut"),
        (3, "cats"),
        (4, "dog"),    # no neighbor
        (5, "dig"),    # sub of dog
        (6, "chart"),  # far from everything
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs_d1(df, "name", "id").collect()
    }
    # exactly the true d<=1 pairs, each verified distance correct
    assert got == {(1, 2): 1, (1, 3): 1, (4, 5): 1}
    # max_bucket drops an oversized variant bucket (recall trade)
    capped = fuzzy_pairs_d1(df, "name", "id", max_bucket=1)
    assert capped.count() == 0


def test_fuzzy_pairs_d2_complete_vs_bruteforce(spark):
    """d<=2 deletion-neighborhood blocking must find EXACTLY the
    brute-force Levenshtein<=2 pair set — including the hard case (two
    substitutions, matchable only through a del2 x del2 bucket) and
    repeated-character strings whose deletion choices collapse."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.fuzzy import fuzzy_pairs_d2

    rows = [
        (1, "abcd"),
        (2, "axcy"),   # two substitutions of abcd: d=2, del2-only case
        (3, "abc"),    # one deletion of abcd: d=1
        (4, "ab"),     # two deletions of abcd: d=2
        (5, "aabbcc"), # repeated chars: collapsing variants
        (6, "abbc"),   # aabbcc minus 2 chars: d=2
        (7, "zzzzzz"), # far from everything
        (8, "abcd"),   # exact duplicate of 1: d=0
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs_d2(df, "name", "id").collect()
    }
    brute = {
        (r.id_a, r.id_b): r.dist
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.name", "b.name").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
        .collect()
    }
    assert got == brute
    assert got[(1, 2)] == 2  # the del2-x-del2 completeness case
    assert got[(1, 8)] == 0
    assert got[(5, 6)] == 2


def test_kcore_peel_known_graph(spark):
    """Peeling on a hand graph with a known core: a 4-clique {1,2,3,4}
    plus a pendant chain 4-5-6 and a triangle {5,6,7} hanging off it.
    The 3-core is exactly the clique (the triangle's nodes have degree
    2 within it once the chain is peeled); the 2-core keeps the
    triangle too; the 5-core is empty."""
    from lakehouse_architecture_spark.operators.kcore import kcore_peel

    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # clique
            (4, 5), (5, 6),                                   # chain
            (5, 7), (6, 7),                                   # triangle
        ],
        "src long, dst long",
    )

    def core_nodes(k):
        r = kcore_peel(edges, k)
        assert r["converged"]
        nodes = {
            x
            for row in r["edges"].collect()
            for x in (row.src, row.dst)
        }
        return nodes, r["n_edges"], r["rounds"]

    n3, e3, rounds3 = core_nodes(3)
    assert n3 == {1, 2, 3, 4} and e3 == 6
    assert rounds3 >= 2  # the triangle only dies after the chain does
    n2, e2, rounds2 = core_nodes(2)
    # every node has degree >= 2, so the whole graph IS its 2-core and
    # the very first peel is the no-change round
    assert n2 == {1, 2, 3, 4, 5, 6, 7} and e2 == 10 and rounds2 == 1
    n5, e5, _ = core_nodes(5)
    assert n5 == set() and e5 == 0


def test_core_numbers_known_graph(spark):
    """h-index fixpoint on the same hand graph: the 4-clique's nodes
    have core number 3 (they survive the 3-core), the triangle/chain
    nodes 2 (the whole graph is its own 2-core but only the clique
    survives at 3) — exactly the per-node refinement of the peel test
    above, and consistency with kcore_peel is the Lü et al. theorem."""
    from lakehouse_architecture_spark.operators.kcore import core_numbers

    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # clique
            (4, 5), (5, 6),                                   # chain
            (5, 7), (6, 7),                                   # triangle
        ],
        "src long, dst long",
    )
    r = core_numbers(edges)
    assert r["converged"] and r["n_nodes"] == 7
    got = {row.node: row.c for row in r["cores"].collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 2, 6: 2, 7: 2}


def test_iterative_reliable_checkpoint_identical(spark, tmp_path):
    """The cluster-safe reliable-checkpoint path (checkpoint_dir set:
    rounds write files instead of unreplicated executor blocks) must
    produce IDENTICAL results to local mode — peel cores, core
    numbers, and ranks are all pinned here, and so is each round's
    certificate: an observation is reported once on either kind of
    checkpoint."""
    from lakehouse_architecture_spark.operators.kcore import (
        core_numbers,
        kcore_peel,
    )
    from lakehouse_architecture_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (4, 5), (5, 6), (5, 7), (6, 7),
        ],
        "src long, dst long",
    )
    cdir = str(tmp_path / "ckpt")

    local = kcore_peel(edges, 3)
    rel = kcore_peel(edges, 3, checkpoint_dir=cdir)
    assert sorted(map(tuple, local["edges"].collect())) == sorted(
        map(tuple, rel["edges"].collect())
    )
    assert (local["rounds"], local["converged"], local["trace"]) == (
        rel["rounds"],
        rel["converged"],
        rel["trace"],
    )

    cn_local = core_numbers(edges)
    cn_rel = core_numbers(edges, checkpoint_dir=cdir)
    assert sorted(map(tuple, cn_local["cores"].collect())) == sorted(
        map(tuple, cn_rel["cores"].collect())
    )
    assert cn_local["trace"] == cn_rel["trace"]

    both = edges.unionAll(edges.selectExpr("dst AS src", "src AS dst"))
    pr_local = pagerank(both, iters=3)
    pr_rel = pagerank(both, iters=3, checkpoint_dir=cdir)
    got_l = {r.node: r.pr for r in pr_local["ranks"].collect()}
    got_r = {r.node: r.pr for r in pr_rel["ranks"].collect()}
    # Same plan either way, but double-sum merge order across shuffle
    # partitions is not contractually deterministic (r12 ADVICE) —
    # compare per-node with a tolerance far below any rank gap instead
    # of bitwise.
    assert set(got_l) == set(got_r)
    for node, pr in got_l.items():
        assert abs(pr - got_r[node]) < 1e-12, (node, pr, got_r[node])
    assert len(pr_local["trace"]) == len(pr_rel["trace"]) == 4
    for cert_l, cert_r in zip(pr_local["trace"], pr_rel["trace"]):
        assert cert_l.keys() == cert_r.keys()
        assert cert_l == pytest.approx(cert_r, abs=1e-12, nan_ok=True)

    from lakehouse_architecture_spark.operators.components import (
        connected_components,
    )

    cc_edges = edges.selectExpr("src AS doc_a", "dst AS doc_b")
    cc_local = connected_components(cc_edges)
    cc_rel = connected_components(cc_edges, checkpoint_dir=cdir)
    # Min-label fixpoint is deterministic, so the two modes must agree
    # exactly (r13 VERDICT #3: components now routes through loop_round
    # like the rest of the graph family).
    assert sorted(map(tuple, cc_local.collect())) == sorted(
        map(tuple, cc_rel.collect())
    )


def test_loop_round_frees_previous_round(spark):
    """loop_round(new, prev=old) releases old's executor-storage
    blocks once new is materialized (the ADVICE r11 accumulation
    hazard): old's checkpointed RDD leaves getRDDStorageInfo, and the
    new round stays fully usable."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.iterative import loop_round

    def stored_ids():
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    base = spark.range(1000).withColumn("x", F.col("id") * 2)
    r1, _ = loop_round(base)
    id1 = r1._jdf.queryExecution().analyzed().rdd().id()
    assert id1 in stored_ids()
    r2, _ = loop_round(r1.withColumn("y", F.col("x") + 1), prev=r1)
    assert id1 not in stored_ids()
    assert r2.count() == 1000 and r2.filter(F.col("y") != F.col("x") + 1).count() == 0


def test_simple_ols_matches_numpy(spark):
    import numpy as np

    from lakehouse_architecture_spark.operators.ols import simple_ols

    rng = [(float(i), 3.5 * i - 7.0 + ((i * 37) % 11 - 5) * 0.25)
           for i in range(50)]
    df = spark.createDataFrame(rng, "x double, y double")
    r = simple_ols(df, "x", "y").collect()[0]
    xs = np.array([a for a, _ in rng]); ys = np.array([b for _, b in rng])
    slope, intercept = np.polyfit(xs, ys, 1)
    assert r.n == 50
    assert abs(r.slope - slope) < 1e-9
    assert abs(r.intercept - intercept) < 1e-9
    cc = np.corrcoef(xs, ys)[0, 1] ** 2
    assert abs(r.r2 - cc) < 1e-9


def test_pq_train_encode_roundtrip(spark):
    import numpy as np

    from lakehouse_architecture_spark.operators.pq import pq_encode, pq_train

    # two tight clusters per block -> a 2-code codebook should nearly
    # zero the reconstruction error after Lloyd refinement
    rng = np.random.RandomState(7)
    base = np.array([[0.0] * 8, [10.0] * 8])
    rows = []
    for i in range(40):
        v = base[i % 2] + rng.uniform(-0.1, 0.1, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(df, "embedding", "vec_id", n_sub=2, k=2, iters=3)
    assert len(cbs) == 2 and all(len(cb) == 2 for cb in cbs)
    out = pq_encode(df, "embedding", cbs).collect()
    for r in out:
        assert len(r.pq_codes) == 2
        assert all(0 <= c < 2 for c in r.pq_codes)
        assert r.pq_sq_err < 8 * 2 * 0.1**2 * 4  # near-cluster-center error
    # codes separate the two clusters
    codes0 = {tuple(r.pq_codes) for r in out if r.vec_id % 2 == 0}
    codes1 = {tuple(r.pq_codes) for r in out if r.vec_id % 2 == 1}
    assert codes0.isdisjoint(codes1)


def test_pq_train_validates(spark):
    import pytest as _pytest

    from lakehouse_architecture_spark.operators.pq import pq_train

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(df, "embedding", "vec_id", n_sub=2, k=1)
    df4 = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="seed"):
        pq_train(df4, "embedding", "vec_id", n_sub=2, k=5)


def test_pq_adc_shortlist_recalls_planted_neighbors(spark):
    import numpy as np

    from lakehouse_architecture_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    # clusterable corpus: 4 centers, the query's true neighbors are its
    # own cluster — ADC over trained codebooks must surface them
    rng = np.random.RandomState(11)
    centers = rng.uniform(-5, 5, (4, 16))
    rows = []
    for i in range(80):
        v = centers[i % 4] + rng.uniform(-0.2, 0.2, 16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cbs = pq_train(df, "embedding", "vec_id", n_sub=4, k=8, iters=3)
    enc = pq_encode(df, "embedding", cbs)
    q = rows[0][1]
    top = pq_adc_topk(enc.filter("vec_id <> 0"), cbs, q, k=19)
    got = {r.vec_id for r in top.collect()}
    same_cluster = {i for i in range(4, 80, 4)}
    assert got == same_cluster  # all 19 true neighbors, nothing else
    with __import__("pytest").raises(ValueError, match="query dim"):
        pq_adc_topk(enc, cbs, q[:8], k=3)


def test_incremental_agg_state_equals_full_recompute(spark):
    from lakehouse_architecture_spark.operators.incremental_agg import (
        agg_state,
        merge_agg_state,
    )

    df = spark.createDataFrame(
        [(i, "k" + str(i % 3), float(i) * 1.5) for i in range(60)],
        "id long, k string, v double",
    )
    state = agg_state(df.filter("id < 20"), ["k"], "v")
    for lo, hi in [(20, 40), (40, 60)]:
        batch = df.filter(f"id >= {lo} and id < {hi}")
        state = merge_agg_state(state, agg_state(batch, ["k"], "v"))
    got = {
        r.k: (r.n_rows, float(r.sum_value)) for r in state.collect()
    }
    full = {
        r.k: (r.n_rows, float(r.sum_value))
        for r in agg_state(df, ["k"], "v").collect()
    }
    assert got == full  # incremental == from-scratch, exactly


def test_grouped_ols_matches_per_group_numpy(spark):
    import numpy as np

    from lakehouse_architecture_spark.operators.ols import grouped_ols

    rows = []
    for g, (a, b) in enumerate([(2.0, 1.0), (-0.5, 10.0)]):
        for i in range(20):
            rows.append((f"g{g}", float(i), a * i + b + ((i * 13) % 7) * 0.1))
    rows.append(("flat", 5.0, 1.0))
    rows.append(("flat", 5.0, 2.0))  # zero x-variance -> null slope
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    for g in ("g0", "g1"):
        xs = np.array([x for gg, x, _ in rows if gg == g])
        ys = np.array([y for gg, _, y in rows if gg == g])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(got[g].slope - slope) < 1e-9
        assert abs(got[g].intercept - intercept) < 1e-9
    assert got["flat"].slope is None  # guarded, not an ANSI error


def test_ols2_matches_numpy_lstsq(spark):
    import numpy as np

    from lakehouse_architecture_spark.operators.ols import ols2

    rng = np.random.RandomState(3)
    X = rng.uniform(-10, 10, (60, 2))
    yv = 4.0 + 1.5 * X[:, 0] - 2.25 * X[:, 1] + rng.uniform(-0.5, 0.5, 60)
    df = spark.createDataFrame(
        [(float(x1), float(x2), float(y)) for (x1, x2), y in zip(X, yv)],
        "x1 double, x2 double, y double",
    )
    r = ols2(df, "x1", "x2", "y").collect()[0]
    A = np.column_stack([np.ones(60), X])
    beta = np.linalg.lstsq(A, yv, rcond=None)[0]
    assert abs(r.b0 - beta[0]) < 1e-8
    assert abs(r.b1 - beta[1]) < 1e-8
    assert abs(r.b2 - beta[2]) < 1e-8
    # collinear features -> guarded null, not an ANSI error
    df2 = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 4.0, 5.0), (3.0, 6.0, 9.0)],
        "x1 double, x2 double, y double",
    )
    r2 = ols2(df2, "x1", "x2", "y").collect()[0]
    assert r2.b1 is None


def test_word_spans_edges(spark):
    """k-word span relation: docs shorter than k yield no spans, docs
    of exactly k words yield one, repeated windows dedupe within a
    doc, and spans are the EXACT raw windows (no normalization)."""
    from lakehouse_architecture_spark.operators.spans import (
        copied_ratio_reject,
        word_spans,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "a b"),                  # shorter than k -> no spans
            (2, "a b c"),                # exactly k -> one span
            (3, "x y x y x y"),          # repeated window dedupes
            (4, "A b. c d"),             # raw text, punctuation kept
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span)
        for r in word_spans(df, 3).collect()
    }
    assert (1,) not in {(d,) for d, _ in got}
    assert (2, "a b c") in got
    spans3 = sorted(s for d, s in got if d == 3)
    assert spans3 == ["x y x", "y x y"]
    assert (4, "A b. c") in got and (4, "b. c d") in got

    # the shared admission decision: integer-exact 20% threshold
    r = spark.range(1).select(
        copied_ratio_reject(F.lit(1), F.lit(5)).alias("a"),   # 20% -> reject
        copied_ratio_reject(F.lit(0), F.lit(5)).alias("b"),
        copied_ratio_reject(F.lit(1), F.lit(6)).alias("c"),   # <20%
    ).collect()[0]
    assert (r.a, r.b, r.c) == (True, False, False)


def test_one_slot_persist(spark):
    """The r9 cache-leak fix: lazy query functions persist heavy
    intermediates through NAMED one-slot caches — each call releases
    the slot's previous relation (they cannot unpersist in a finally;
    the consuming action is the caller's), so a long driver/bench
    session holds at most one relation per call site."""
    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        one_slot_persist,
        release_slots,
    )
    from lakehouse_architecture_spark.queries.dedup_sim import (
        _persist_spans,
    )

    df1 = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    df2 = spark.createDataFrame([(2, "b")], "doc_id long, text string")
    df3 = spark.createDataFrame([(3, "c")], "doc_id long, text string")

    first = one_slot_persist(df1, slot="t-slot")
    assert first.storageLevel.useMemory
    assert _SLOTS["t-slot"][1] is first

    second = one_slot_persist(df2, slot="t-slot")
    assert second.storageLevel.useMemory
    assert _SLOTS["t-slot"][1] is second
    # the first relation was released; Spark reports the default
    # (non-cached) storage level once unpersisted
    assert not first.storageLevel.useMemory

    # independent slots do not evict each other
    other = one_slot_persist(df3, slot="t-other")
    assert second.storageLevel.useMemory and other.storageLevel.useMemory

    # identity-aware reuse (r10): an equal key returns the slot's
    # ALREADY-WARM relation instead of unpersist+rebuild...
    keyed = one_slot_persist(df1, slot="t-keyed", key=("sf", 8))
    again = one_slot_persist(df2, slot="t-keyed", key=("sf", 8))
    assert again is keyed and keyed.storageLevel.useMemory
    # ...a DIFFERENT key evicts and re-persists...
    swapped = one_slot_persist(df2, slot="t-keyed", key=("sf2", 8))
    assert swapped is not keyed and not keyed.storageLevel.useMemory
    # ...and key=None never matches (no identity claim)
    anon = one_slot_persist(df3, slot="t-keyed")
    assert anon is not swapped and not swapped.storageLevel.useMemory

    # a DE-WARMED holder is a miss, not a hit: Spark's CacheManager is
    # plan-keyed, so another slot sharing the same logical plan can
    # unpersist this slot's entry out from under it — the registry
    # must detect it and re-persist instead of returning a cold frame
    rewarm1 = one_slot_persist(df1, slot="t-rewarm", key=("k",))
    rewarm1.unpersist(blocking=False)  # simulate shared-entry eviction
    rewarm2 = one_slot_persist(df1, slot="t-rewarm", key=("k",))
    assert rewarm2.storageLevel.useMemory

    # the span queries route through the "dedup-sim-spans" slot, keyed
    # by (sf_dir, k) so consecutive same-input span queries stay warm
    spans = _persist_spans(df1, "/tmp/sf-test", 8)
    assert spans.storageLevel.useMemory
    assert _SLOTS["dedup-sim-spans"][1] is spans
    assert _persist_spans(df2, "/tmp/sf-test", 8) is spans
    assert _persist_spans(df2, "/tmp/sf-other", 8) is not spans

    assert release_slots("t-") == 4
    assert not second.storageLevel.useMemory
    release_slots("dedup-sim-spans")
    assert "dedup-sim-spans" not in _SLOTS


def test_release_slots_for_path(spark):
    """The r10 ADVICE hazard closed: a write that rewrites files under
    a keyed slot's input path must stale the slot, or the warm hit
    serves the pre-rewrite materialization for the whole session. The
    staged-swap writers call this via _refresh_swapped_path; keyless
    slots never warm-hit and are left alone."""
    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        one_slot_persist,
        release_slots,
        release_slots_for_path,
    )

    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    keyed = one_slot_persist(df1, slot="p-keyed", key=("/tmp/sf-rel", 8))
    anon = one_slot_persist(df2, slot="p-anon")

    # unrelated path: nothing released, the keyed slot still warm-hits
    assert release_slots_for_path("/tmp/other-dir") == 0
    assert one_slot_persist(df2, slot="p-keyed", key=("/tmp/sf-rel", 8)) is keyed

    # a rewrite UNDER the keyed dir stales it; the keyless slot stays
    assert release_slots_for_path("/tmp/sf-rel/orders.parquet") == 1
    assert "p-keyed" not in _SLOTS and not keyed.storageLevel.useMemory
    assert anon.storageLevel.useMemory

    # containment works in the other direction too (parent rewritten)
    rekeyed = one_slot_persist(df1, slot="p-keyed", key=("/tmp/sf-rel/sub", 8))
    assert release_slots_for_path("/tmp/sf-rel") == 1
    assert not rekeyed.storageLevel.useMemory

    # the writer chokepoint routes here: a staged-swap refresh over a
    # keyed path must drop the slot even though no Spark cache exists
    from lakehouse_architecture_spark.sinks.writers import (
        _refresh_swapped_path,
    )

    one_slot_persist(df1, slot="p-keyed", key=("/tmp/sf-rel", 8))
    _refresh_swapped_path(spark, "/tmp/sf-rel")
    assert "p-keyed" not in _SLOTS


def test_release_slots_for_path_nested_tuple_key(spark):
    """The r14 ADVICE gap closed: the minhash family registers NESTED
    tuple keys — ((sf_dir, table), shingle_n, max_df) — and a
    top-level-only element walk neither abspath-resolved the inner
    sf_dir nor matched it on release, so a rewrite under sf_dir kept
    serving the stale posting relation. Nested keys must now resolve
    at registration (relative path pinned to the registering CWD) and
    release on a path overlap at any nesting depth."""
    import os

    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        _normalize_key,
        one_slot_persist,
        release_slots,
        release_slots_for_path,
    )

    df1 = spark.createDataFrame([(1,)], "x long")
    df2 = spark.createDataFrame([(2,)], "x long")
    nested_key = (("/tmp/sf-nest", "documents"), 5, 40)
    slot = one_slot_persist(df1, slot="n-keyed", key=nested_key)

    # warm hit on the equal nested key
    assert one_slot_persist(df2, slot="n-keyed", key=nested_key) is slot

    # a rewrite under the nested sf_dir must stale it
    assert release_slots_for_path("/tmp/sf-nest/documents.parquet") == 1
    assert "n-keyed" not in _SLOTS and not slot.storageLevel.useMemory

    # registration-time abspath applies INSIDE nested tuples too: a
    # relative inner path and its absolute form are the same identity
    rel_key = (("testdata/sf-nest", "documents"), 5)
    abs_key = ((os.path.abspath("testdata/sf-nest"), "documents"), 5)
    assert _normalize_key(rel_key) == _normalize_key(abs_key)
    warm = one_slot_persist(df1, slot="n-keyed", key=rel_key)
    assert one_slot_persist(df2, slot="n-keyed", key=abs_key) is warm
    assert release_slots("n-") == 1


def test_release_slots_for_path_relative_and_cwd(spark):
    """The r12/r13 ADVICE contracts on RELATIVE path keys, under their
    own test name so a failure attributes to the right contract (they
    were previously spliced into the nested-tuple test — r15 ADVICE):
    a bare relative key releases via its absolute spelling, a
    slash-free label never participates, and registration-time abspath
    survives a CWD change before release."""
    import os

    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        one_slot_persist,
        release_slots,
        release_slots_for_path,
    )

    df1 = spark.createDataFrame([(1,)], "x long")

    # r12 ADVICE: a slot keyed with a BARE relative path (no ./ prefix)
    # must still be releasable by a writer rewriting under it — both
    # sides abspath-normalize at match time, so relative and absolute
    # spellings of the same dir compare equal.
    bare = one_slot_persist(df1, slot="p-bare", key=("testdata/sfX", 8))
    assert (
        release_slots_for_path(
            os.path.abspath("testdata/sfX/orders.parquet")
        )
        == 1
    )
    assert "p-bare" not in _SLOTS and not bare.storageLevel.useMemory

    # ...but a slash-free label (table name, corpus tag) never
    # participates, even when it equals the target's basename.
    lbl = one_slot_persist(df1, slot="p-label", key=("sf-rel", 8))
    assert release_slots_for_path("sf-rel") == 0
    assert "p-label" in _SLOTS and lbl.storageLevel.useMemory

    # r13 ADVICE: relative keys are abspath-resolved at REGISTRATION,
    # so a CWD change between registration and release cannot make the
    # release silently miss (the stale-slot direction). Register under
    # one CWD, release by the absolute path from a different CWD.
    reg_abs = os.path.abspath("testdata/sfY")
    cwd_slot = one_slot_persist(df1, slot="p-cwd", key=("testdata/sfY", 8))
    old_cwd = os.getcwd()
    os.chdir("/tmp")
    try:
        assert release_slots_for_path(reg_abs) == 1
    finally:
        os.chdir(old_cwd)
    assert "p-cwd" not in _SLOTS and not cwd_slot.storageLevel.useMemory

    release_slots("p-")


# --- KMV sketch ---------------------------------------------------------


def test_kmv_sketch_properties(spark):
    """KMV invariants on a small known universe: the sketch is the
    exact k smallest hashes (deterministic regardless of partitioning
    — the two-stage top-k's union property), the estimator collapses
    to exactness below k, the union sketch equals the sketch of the
    union, and the intersection estimator is exact when the union fits
    in the sketch."""
    import hashlib

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_intersect_estimate,
        kmv_sketch_by,
        kmv_union,
    )

    def h52(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)

    a_vals = [f"v{i}" for i in range(40)]
    b_vals = [f"v{i}" for i in range(30, 60)]  # overlap v30..v39 (10)
    rows = [("a", v) for v in a_vals] * 3 + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "side string, c string").repartition(7)
    hs = df.select("side", kmv_hash(F.col("c")).alias("h")).distinct()

    K = 16
    sk = {r.side: r for r in kmv_sketch_by(hs, "side", K).collect()}
    assert sk["a"].n == 40 and sk["b"].n == 30
    assert list(sk["a"].kmv) == sorted(h52(v) for v in a_vals)[:K]
    assert list(sk["b"].kmv) == sorted(h52(v) for v in b_vals)[:K]

    # estimator: exact below k (k > n), (k-1)*SPACE/kth above
    one = spark.createDataFrame([(sk["a"].n, sk["a"].kmv, sk["b"].n, sk["b"].kmv)],
                                "n_a long, kmv_a array<long>, n_b long, kmv_b array<long>")
    r = one.select(
        kmv_estimate(F.col("n_a"), F.col("kmv_a"), K).alias("est16"),
        kmv_estimate(F.lit(10), F.col("kmv_a"), 16).alias("exact_branch"),
    ).collect()[0]
    kth = sorted(h52(v) for v in a_vals)[K - 1]
    assert r.est16 == (K - 1) * float(1 << 52) / kth
    assert r.exact_branch == 10.0

    # union sketch == sketch of the union; small-union intersection
    # estimate collapses to the exact intersection
    K2 = 128  # > |A union B| = 60: sketches are complete sets
    sk2 = {r.side: r for r in kmv_sketch_by(hs, "side", K2).collect()}
    two = spark.createDataFrame(
        [(sk2["a"].n, sk2["a"].kmv, sk2["b"].n, sk2["b"].kmv)],
        "n_a long, kmv_a array<long>, n_b long, kmv_b array<long>",
    ).withColumn("ku", kmv_union(F.col("kmv_a"), F.col("kmv_b"), K2))
    r2 = two.select(
        F.size("ku").alias("szu"),
        kmv_intersect_estimate(
            F.col("kmv_a"), F.col("kmv_b"), F.col("ku"),
            kmv_estimate(F.lit(60), F.col("ku"), K2),
        ).alias("est_inter"),
    ).collect()[0]
    assert r2.szu == 60 and r2.est_inter == 10.0

    # mergeable-form estimator (sketch alone, no carried n): equals
    # the n-carrying estimator wherever n is the true distinct count —
    # exact (== size) while unsaturated, closed form at saturation
    from lakehouse_architecture_spark.operators.kmv import (
        kmv_estimate_from_sketch,
    )

    r3 = one.select(
        kmv_estimate_from_sketch(F.col("kmv_a"), K).alias("sat"),
        kmv_estimate_from_sketch(
            F.slice(F.col("kmv_a"), 1, 5), K
        ).alias("unsat"),
        kmv_estimate_from_sketch(
            F.array().cast("array<long>"), K
        ).alias("empty"),
    ).collect()[0]
    assert r3.sat == r.est16  # saturated: same closed form
    assert r3.unsat == 5.0  # unsaturated sketch IS the distinct set
    assert r3.empty == 0.0


def test_split_corrupt_survives_later_splits(spark, tmp_path):
    """Regression (r10): the corrupt side must stay actionable after
    OTHER frames are split later. A shared-cache release used to make
    a held corrupt frame recompute from the raw scan and die on
    Spark's corrupt-record-column-only restriction; the localCheckpoint
    lineage truncation makes the restriction unreachable."""
    p1 = tmp_path / "a.csv"
    p1.write_text(
        "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
        "90,501,1990,2025-04-01T11:27:00,229.53,2025-04-01\n"
        "not,an,int,row,xx,yy\n"
    )
    p2 = tmp_path / "b.csv"
    p2.write_text(
        "order_num,order_id,user_id,order_timestamp,total_amount,date\n"
        "91,502,1991,2025-04-02T10:00:00,10.0,2025-04-02\n"
    )
    _, corrupt1 = split_corrupt(read_csv_typed(spark, str(p1), ORDERS_SCHEMA))
    assert corrupt1.count() == 1
    parsed2, corrupt2 = split_corrupt(
        read_csv_typed(spark, str(p2), ORDERS_SCHEMA)
    )
    assert parsed2.count() == 1 and corrupt2.count() == 0
    # the FIRST split's corrupt side still acts fine
    assert corrupt1.count() == 1
    assert corrupt1.collect()[0]._corrupt_record.startswith("not,an,int")


def test_personalized_pagerank_mass_and_locality(spark):
    """PPR on the hand graph: total mass stays exactly ~1 (the seeded
    damped update is measure-preserving), seeds hold more mass than
    their graph-distance-2 periphery, and a dangling node's mass
    re-teleports to the seeds instead of leaking."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.pagerank import (
        personalized_pagerank,
    )

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    r = personalized_pagerank(edges, seeds, iters=20)
    got = {row.node: row.pr for row in r["ranks"].collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert r["n_seeds"] == 1 and r["n_nodes"] == 5
    # mass decays with distance from the seed
    assert got[1] > got[2] > got[4] > got[5]

    # dangling case: 9 -> 10 only (10 has no out-edges)
    edges2 = spark.createDataFrame([(9, 10)], "src long, dst long")
    seeds2 = spark.createDataFrame([(9,)], "node long")
    r2 = personalized_pagerank(edges2, seeds2, iters=30)
    got2 = {row.node: row.pr for row in r2["ranks"].collect()}
    assert abs(sum(got2.values()) - 1.0) < 1e-9
    assert got2[9] > got2[10] > 0

    # r12 ADVICE: duplicate seed rows must not duplicate node rows or
    # split teleport mass, and seeds absent from the graph must not
    # silently shrink total mass below 1 — the seed set is deduped and
    # semi-joined to the graph's nodes before defining the measure.
    messy = spark.createDataFrame(
        [(1,), (1,), (2,), (99,)], "node long"
    )
    r3 = personalized_pagerank(edges, messy, iters=20)
    got3 = {row.node: row.pr for row in r3["ranks"].collect()}
    assert r3["n_seeds"] == 2  # 1 and 2; dup dropped, 99 not in graph
    assert len(got3) == 5 == r3["ranks"].count()
    assert abs(sum(got3.values()) - 1.0) < 1e-9

    # an all-phantom seed set is an error, not a silent zero measure
    import pytest as _pytest

    phantom = spark.createDataFrame([(99,)], "node long")
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, phantom, iters=2)


# --- distributed global row-number --------------------------------------


def test_global_row_number_matches_window(spark):
    """operators/ranking.global_row_number must equal the plain
    unpartitioned ROW_NUMBER over the same total order — including
    duplicate values (the within-group tie-break) and a value that
    appears in only one row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.ranking import (
        global_row_number,
    )

    df = spark.createDataFrame(
        [(7, "a"), (3, "b"), (7, "c"), (1, "d"), (3, "e"), (3, "f")],
        "v int, id string",
    )
    got = {
        r.id: r.global_rank
        for r in global_row_number(df, ["v"], ["id"]).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == want
    # ranks are a permutation of 1..n (total order, no gaps/dupes)
    assert sorted(got.values()) == list(range(1, 7))

    # null value-column rows must survive (null-safe join back) and
    # rank FIRST (Spark asc = nulls first), matching the window form
    dfn = spark.createDataFrame(
        [(None, "a"), (3, "b"), (None, "c")], "v int, id string"
    )
    gotn = {
        r.id: r.global_rank
        for r in global_row_number(dfn, ["v"], ["id"]).collect()
    }
    wantn = {
        r.id: r.rn
        for r in dfn.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert gotn == wantn == {"a": 1, "c": 2, "b": 3}


def test_weighted_pagerank_unit_weights_match_unweighted(spark):
    """weighted_pagerank with all weights 1 must reproduce pagerank
    exactly (same update, wdeg == deg), and weights must actually
    steer rank: doubling one edge's weight raises its target's rank."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.pagerank import (
        pagerank,
        weighted_pagerank,
    )

    und = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    both = und.unionAll(und.selectExpr("dst AS src", "src AS dst"))
    unw = pagerank(both, iters=4)
    w1 = weighted_pagerank(
        both.withColumn("w", F.lit(1)), iters=4
    )
    a = {r.node: r.pr for r in unw["ranks"].collect()}
    b = {r.node: r.pr for r in w1["ranks"].collect()}
    assert set(a) == set(b)
    for n in a:
        assert abs(a[n] - b[n]) < 1e-12, (n, a[n], b[n])

    # steering: weight the 4->5 edge heavily; node 5's rank must rise
    wed = both.withColumn(
        "w", F.when((F.col("src") == 4) & (F.col("dst") == 5), 10).otherwise(1)
    )
    w2 = weighted_pagerank(wed, iters=4)
    c = {r.node: r.pr for r in w2["ranks"].collect()}
    assert c[5] > b[5]


def test_weighted_pagerank_rejects_nonpositive_weights(spark):
    """The r14 ADVICE guard: w <= 0 (or null) silently leaks rank mass
    — a zero-wdeg node with edges is misread as dangling and a
    negative-wdeg node vanishes from both terms — so the operator must
    refuse, loudly, before iterating."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.pagerank import (
        weighted_pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 0.0)], "src long, dst long, w double"
    )
    with _pytest.raises(ValueError, match="positive edge"):
        weighted_pagerank(edges, iters=2)
    neg = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, -3.0)], "src long, dst long, w double"
    )
    with _pytest.raises(ValueError, match="positive edge"):
        weighted_pagerank(neg, iters=2)
    withnull = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, None)], "src long, dst long, w double"
    )
    with _pytest.raises(ValueError, match="positive edge"):
        weighted_pagerank(withnull, iters=2)
