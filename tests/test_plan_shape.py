"""Plan shape, pinned by the Spark SQL executions a validate issues
(counted in the SQL status store): every domain runs one single pass,
deferred (z-score) conditions add one follow-up job, and job checks
run their own jobs concurrently with the scan. An extra scan — or a
payload decoded twice — fails here."""

import pytest
from pyspark.sql import functions as F

import great_expectations_spark as ges
from great_expectations_spark.data.images import write_images_table


def executions_of(spark, fn):
    """(fn(), [SQLExecutionUIData of every execution fn issued]).

    The status store keeps a bounded number of executions, so its
    count alone can plateau in a long session; new executions are the
    ones with ids above the last id before the call."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def tail(k):
        n = int(store.executionsCount())
        k = min(k, n)
        if k == 0:
            return []
        lst = store.executionsList(n - k, k)
        return [lst.apply(i) for i in range(lst.size())]

    bus.waitUntilEmpty()
    last = tail(1)
    before = last[0].executionId() if last else -1
    out = fn()
    bus.waitUntilEmpty()
    return out, [e for e in tail(200) if e.executionId() > before]


def lineitem_like(spark):
    li = spark.range(0, 600, 1, 3).select(
        (F.col("id") % 150).alias("k"),
        (F.col("id") % 7).alias("ln"),
        ((F.col("id") * 7) % 60 + 1).alias("q"),
        F.when(F.col("id") % 97 == 0, 5000.0)
        .otherwise(((F.col("id") * 13) % 1000).cast("double"))
        .alias("p"),
        ((F.col("id") % 10) / 100.0).alias("t"),
        F.when(F.col("id") % 3 == 0, "R").otherwise("A").alias("f"),
    )
    orders = spark.range(0, 140).select(F.col("id").alias("ok"))
    return li, orders


def lineitem_suite():
    return (
        ges.suite("lineitem-shape")
        .expect("expect_column_values_to_not_be_null", column="k")
        .expect("expect_column_values_to_be_between", column="q",
                min_value=1, max_value=50)
        .expect("expect_column_mean_to_be_between", column="q",
                min_value=0, max_value=100)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="p", threshold=2.5, mostly=0.9)
        .expect("expect_compound_columns_to_be_unique",
                column_list=["k", "ln"])
        .expect("expect_foreign_keys_to_exist", column="k",
                reference_table_name="orders", reference_column="ok",
                mostly=0.99)
        .expect("expect_column_quantile_values_to_be_between",
                column="q",
                quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                                 "value_ranges": [[1, 20], [15, 35],
                                                  [30, 50]]})
        .expect("expect_column_values_to_be_between", column="t",
                min_value=0.0, max_value=0.08,
                row_condition="f = 'R'", condition_parser="spark")
    )


def test_micro_batch_suite_execution_count(spark):
    """Main domain: single pass, z-score follow-up, compound
    uniqueness, foreign-key anti-join, exact quantiles; the
    row_condition domain: its single pass. Six executions (the
    two-scan plan issued eight: fused agg, deferred agg, harvest,
    orphan count, orphan sample, quantiles, uniqueness, domain)."""
    li, orders = lineitem_like(spark)
    res, execs = executions_of(spark, lambda: ges.validate(
        li, lineitem_suite(), aux_tables={"orders": orders},
        result_format="SUMMARY",
    ))
    assert len(execs) == 6, [e.description() for e in execs]
    by_pos = {i: r for i, r in enumerate(res.results)}
    assert not any(
        r.exception_info and r.exception_info.get("raised_exception")
        for r in res.results
    )
    # every map check has violations, so no sample-less shortcut hides
    # a harvest scan
    assert by_pos[1].result["unexpected_count"] > 0
    assert by_pos[3].result["unexpected_count"] > 0
    assert by_pos[3].result["partial_unexpected_list"] == [5000.0] * 7
    assert by_pos[5].result["unexpected_count"] == 40
    assert by_pos[7].result["unexpected_count"] == 20
    assert "deferred" in res.meta["phase_times"]


@pytest.fixture(scope="module")
def images_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("shape") / "images")
    write_images_table(spark, path, n_rows=600, seed=3)
    return path


def test_zscore_image_suite_decodes_payload_once(spark, images_parquet):
    """A z-score check next to payload checks: exactly one execution
    runs the Arrow Python UDF — the single pass. The z-score
    follow-up reads only its column."""
    df = spark.read.parquet(images_parquet)
    s = (
        ges.suite("zscore-images")
        .expect("expect_image_bytes_to_be_decodable", column="bytes",
                mostly=0.99)
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="w", threshold=1.2, double_sided=True)
    )
    res, execs = executions_of(
        spark, lambda: ges.validate(df, s, result_format="SUMMARY")
    )
    with_python = [
        e for e in execs
        if "ArrowEvalPython" in e.physicalPlanDescription()
    ]
    assert len(execs) == 2, [e.description() for e in execs]
    assert len(with_python) == 1
    assert res.results[2].result["unexpected_count"] > 0


@pytest.mark.parametrize("shape", ["empty_domain", "all_null"])
def test_zscore_nothing_to_consider_launches_no_follow_up(spark, shape):
    df = spark.range(0, 50, 1, 2).select(
        F.col("id").cast("double").alias("x"),
        F.lit(None).cast("double").alias("nulls"),
    )
    kwargs = {"column": "x", "threshold": 1.0}
    if shape == "empty_domain":
        kwargs.update(row_condition="x < 0", condition_parser="spark")
    else:
        kwargs["column"] = "nulls"
    s = ges.suite(shape).expect(
        "expect_column_value_z_scores_to_be_less_than", **kwargs
    )
    res, execs = executions_of(
        spark, lambda: ges.validate(df, s, result_format="COMPLETE")
    )
    assert len(execs) == 1, [e.description() for e in execs]
    r = res.results[0]
    assert r.success
    assert r.result["unexpected_count"] == 0
    assert r.result["unexpected_list"] == []
