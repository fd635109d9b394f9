"""expect_foreign_keys_to_exist semantics against DuckDB anti-joins:
duplicate dimension keys, NULL foreign keys, multi-column keys under
null-safe equality, a deterministic capped sample, and the failure
path where the prefetch swallows an error that run() re-raises."""

import duckdb
import pytest

import great_expectations_spark as ges


def fk_suite(**kwargs):
    return ges.suite("fk").expect("expect_foreign_keys_to_exist", **kwargs)


def duck_orphans(fact_rows, fact_cols, dim_rows, dim_cols, on):
    """Orphan count of the non-null foreign-key tuples, by DuckDB."""
    con = duckdb.connect()
    for name, rows, cols in (("fact", fact_rows, fact_cols),
                             ("dim", dim_rows, dim_cols)):
        con.sql(
            f"CREATE TABLE {name} AS SELECT * FROM (VALUES "
            + ", ".join(
                "(" + ", ".join("NULL" if v is None else repr(v) for v in r)
                + ")"
                for r in rows
            )
            + f") t({', '.join(cols)})"
        )
    nonnull = " AND ".join(f"f.{a} IS NOT NULL" for a, _ in on)
    match = " AND ".join(f"f.{a} = d.{b}" for a, b in on)
    return con.sql(
        f"SELECT count(*) FROM fact f WHERE {nonnull} AND NOT EXISTS "
        f"(SELECT 1 FROM dim d WHERE {match})"
    ).fetchone()[0]


def test_duplicate_dimension_keys_and_null_fks(spark):
    fact = [(1, "a"), (2, "b"), (2, "c"), (9, "d"), (None, "e"),
            (None, "f"), (7, "g"), (9, "h")]
    dim = [(1,), (1,), (2,), (2,), (2,), (3,), (None,)]
    f_df = spark.createDataFrame(fact, "fk long, val string")
    d_df = spark.createDataFrame(dim, "pk long")
    res = ges.validate(
        f_df,
        fk_suite(column="fk", reference_table_name="dim",
                 reference_column="pk"),
        aux_tables={"dim": d_df}, result_format="COMPLETE",
    )
    r = res.results[0]
    want = duck_orphans(fact, ["fk", "val"], dim, ["pk"], [("fk", "pk")])
    assert want == 3
    assert r.result["unexpected_count"] == want
    assert r.result["element_count"] == 8
    assert r.result["missing_count"] == 2  # NULL FKs are not considered
    assert sorted(r.result["unexpected_list"]) == [7, 9, 9]
    assert r.success is False


def test_multi_column_keys_null_safe(spark):
    fact = [(1, "x"), (1, "y"), (2, "x"), (2, None), (None, "x"),
            (3, "z"), (3, "z")]
    dim = [(1, "x"), (1, "x"), (2, "x"), (None, "y"), (3, None)]
    f_df = spark.createDataFrame(fact, "a long, b string")
    d_df = spark.createDataFrame(dim, "ra long, rb string")
    res = ges.validate(
        f_df,
        fk_suite(column_list=["a", "b"], reference_table_name="dim",
                 reference_column_list=["ra", "rb"]),
        aux_tables={"dim": d_df}, result_format="COMPLETE",
    )
    r = res.results[0]
    want = duck_orphans(fact, ["a", "b"], dim, ["ra", "rb"],
                        [("a", "ra"), ("b", "rb")])
    # (1,y) and (3,z) twice; a NULL dimension column matches nothing
    assert want == 3
    assert r.result["unexpected_count"] == want
    assert r.result["missing_count"] == 2
    assert sorted(r.result["unexpected_list"], key=str) == [
        {"a": 1, "b": "y"}, {"a": 3, "b": "z"}, {"a": 3, "b": "z"},
    ]


@pytest.mark.parametrize("rf,cap_key", [
    ("SUMMARY", "partial_unexpected_list"),
    ("COMPLETE", "unexpected_list"),
])
def test_sample_is_deterministic_and_capped(spark, rf, cap_key):
    fact = spark.range(0, 3000, 1, 6).selectExpr("id % 700 AS fk")
    dim = spark.range(0, 500).selectExpr("id AS pk")
    s = fk_suite(column="fk", reference_table_name="dim",
                 reference_column="pk", mostly=0.5)
    runs = [
        ges.validate(fact, s, aux_tables={"dim": dim}, result_format=rf,
                     complete_cap=50).results[0].result
        for _ in range(2)
    ]
    # fk values 500..699 are orphans, each in 4 of the 3000 rows
    want = duckdb.sql(
        "SELECT count(*) FROM range(3000) t(i) WHERE i % 700 >= 500"
    ).fetchone()[0]
    cap = 20 if rf == "SUMMARY" else 50
    for r in runs:
        assert r["unexpected_count"] == want
        assert len(r[cap_key]) == cap
        assert len(r["partial_unexpected_list"]) == 20
        assert all(v >= 500 for v in r[cap_key])
    assert runs[0][cap_key] == runs[1][cap_key]
    assert runs[0]["partial_unexpected_list"] == runs[1][
        "partial_unexpected_list"
    ]


def test_missing_reference_table(spark):
    fact = spark.createDataFrame([(1,), (2,)], "fk long")
    s = fk_suite(column="fk", reference_table_name="absent",
                 reference_column="pk")
    r = ges.validate(fact, s, catch_exceptions=True).results[0]
    assert r.success is False
    assert r.exception_info["raised_exception"]
    assert "absent" in r.exception_info["exception_message"]
    with pytest.raises(ValueError, match="absent"):
        ges.validate(fact, s, catch_exceptions=False)
