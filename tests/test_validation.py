"""Validation-engine tests mirroring the reference's suite
(/root/reference/tests/test_glue_etl.py): valid/invalid split counts for
products/orders/order_items-shaped data, error-message accumulation order,
FK dangling detection."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_architecture_spark.operators.validation import (
    ERROR_COL,
    ForeignKeyRule,
    NotNullRule,
    PositiveRule,
    RangeRule,
    annotate,
    rejection_summary,
    rules_from_schema,
    validate,
)
from lakehouse_architecture_spark.schemas import PRODUCTS_SCHEMA

# Loosened (all-nullable) input schemas so null rows can be constructed,
# validated against the canonical rules — the reference's test trick
# (/root/reference/tests/test_glue_etl.py:58-63).
LOOSE_PRODUCTS = StructType(
    [
        StructField("product_id", IntegerType(), True),
        StructField("department_id", IntegerType(), True),
        StructField("department", StringType(), True),
        StructField("product_name", StringType(), True),
    ]
)

LOOSE_ORDERS = StructType(
    [
        StructField("order_id", IntegerType(), True),
        StructField("user_id", IntegerType(), True),
        StructField("total_amount", DoubleType(), True),
    ]
)

LOOSE_ITEMS = StructType(
    [
        StructField("id", IntegerType(), True),
        StructField("order_id", IntegerType(), True),
        StructField("product_id", IntegerType(), True),
    ]
)


def test_products_all_valid(spark):
    df = spark.createDataFrame(
        [(1, 4, "Books", "P1"), (2, 5, "Toys", "P2")], LOOSE_PRODUCTS
    )
    valid, invalid = validate(df, rules_from_schema(PRODUCTS_SCHEMA))
    assert (valid.count(), invalid.count()) == (2, 0)


def test_products_null_pk_and_name(spark):
    df = spark.createDataFrame(
        [(1, 4, "Books", "P1"), (None, 5, "Toys", "P2"), (3, 6, "Home", None)],
        LOOSE_PRODUCTS,
    )
    valid, invalid = validate(df, rules_from_schema(PRODUCTS_SCHEMA))
    assert (valid.count(), invalid.count()) == (1, 2)
    errs = {r.validation_errors for r in invalid.collect()}
    assert errs == {"Null product_id", "Null product_name"}


def test_orders_split_counts(spark):
    rows = [
        (1, 10, 100.0),
        (None, 11, 50.0),     # null PK
        (3, None, 25.0),      # null user
        (4, 13, -10.0),       # negative
        (5, 14, 0.0),         # zero is invalid (etl_utils.py:166)
    ]
    df = spark.createDataFrame(rows, LOOSE_ORDERS)
    rules = [
        NotNullRule("order_id"),
        NotNullRule("user_id"),
        PositiveRule("total_amount"),
    ]
    valid, invalid = validate(df, rules)
    assert (valid.count(), invalid.count()) == (1, 4)
    zero = invalid.filter("order_id = 5").collect()[0]
    assert zero.validation_errors == "Non-positive total_amount"


def test_error_accumulation_order_and_join(spark):
    df = spark.createDataFrame([(None, None, -5.0)], LOOSE_ORDERS)
    rules = [
        NotNullRule("order_id"),
        NotNullRule("user_id"),
        PositiveRule("total_amount"),
    ]
    _, invalid = validate(df, rules)
    row = invalid.collect()[0]
    # rule order preserved, '; ' joined (etl_utils.py:176-180)
    assert row.validation_errors == (
        "Null order_id; Null user_id; Non-positive total_amount"
    )


def test_fk_dangling_references(spark):
    items = spark.createDataFrame(
        [(1, 501, 101), (2, 999, 101), (3, 501, 999), (4, 999, 999)],
        LOOSE_ITEMS,
    )
    orders_ref = spark.createDataFrame([(501,)], "order_id int")
    products_ref = spark.createDataFrame([(101,)], "product_id int")
    fks = [
        ForeignKeyRule("order_id", orders_ref, "order_id"),
        ForeignKeyRule("product_id", products_ref, "product_id"),
    ]
    valid, invalid = validate(items, [NotNullRule("id")], fks)
    assert (valid.count(), invalid.count()) == (1, 3)
    both = invalid.filter("id = 4").collect()[0]
    assert both.validation_errors == (
        "Invalid order_id reference; Invalid product_id reference"
    )


@pytest.mark.parametrize("case", ["rule_order", "fk_dangling"])
def test_annotate_then_split_equals_validate(spark, case):
    if case == "rule_order":
        df = spark.createDataFrame(
            [(None, None, -5.0), (1, 10, 100.0), (2, None, 0.0)], LOOSE_ORDERS
        )
        rules = [
            NotNullRule("order_id"),
            NotNullRule("user_id"),
            PositiveRule("total_amount"),
        ]
        fks = []
    else:
        df = spark.createDataFrame(
            [(1, 501, 101), (2, 999, 101), (3, 501, 999), (4, 999, 999),
             (5, None, 101)],
            LOOSE_ITEMS,
        )
        rules = [NotNullRule("id")]
        fks = [
            ForeignKeyRule(
                "order_id", spark.createDataFrame([(501,)], "order_id int"),
                "order_id",
            ),
            ForeignKeyRule(
                "product_id", spark.createDataFrame([(101,)], "product_id int"),
                "product_id",
            ),
        ]

    def rows(d):
        return sorted((tuple(r) for r in d.collect()), key=repr)

    out = annotate(df, rules, fks)
    valid, invalid = validate(df, rules, fks)
    assert out.columns == invalid.columns == df.columns + [ERROR_COL]
    assert rows(out.filter(out[ERROR_COL].isNull()).drop(ERROR_COL)) == rows(valid)
    assert rows(out.filter(out[ERROR_COL].isNotNull())) == rows(invalid)
    assert invalid.count() > 0 and valid.count() > 0


def test_fk_null_is_not_a_fk_violation(spark):
    items = spark.createDataFrame([(1, None, 101)], LOOSE_ITEMS)
    ref = spark.createDataFrame([(501,)], "order_id int")
    valid, invalid = validate(
        items, [], [ForeignKeyRule("order_id", ref, "order_id")]
    )
    # null FK is the nullability rules' business, not the FK rule's
    assert (valid.count(), invalid.count()) == (1, 0)


def test_range_rule(spark):
    df = spark.createDataFrame(
        [(1, 10, 100.0), (2, 11, 5000.0)], LOOSE_ORDERS
    )
    _, invalid = validate(df, [RangeRule("total_amount", hi=1000.0)])
    assert invalid.count() == 1
    assert invalid.collect()[0].order_id == 2


def test_rejection_summary_topk(spark):
    rows = [(None, 1, 1.0)] * 3 + [(1, None, 1.0)] * 2 + [(2, 2, -1.0)]
    df = spark.createDataFrame(rows, LOOSE_ORDERS)
    rules = [
        NotNullRule("order_id"),
        NotNullRule("user_id"),
        PositiveRule("total_amount"),
    ]
    _, invalid = validate(df, rules)
    top = rejection_summary(invalid, top_k=2).collect()
    assert [(r.validation_errors, r["count"]) for r in top] == [
        ("Null order_id", 3),
        ("Null user_id", 2),
    ]


def test_enum_and_regex_rules(spark):
    from lakehouse_architecture_spark.operators.validation import (
        EnumRule,
        RegexRule,
        validate,
    )

    df = spark.createDataFrame(
        [
            (1, "O", "a@b.com"),
            (2, "X", "a@b.com"),      # bad enum
            (3, "F", "not-an-email"), # bad regex
            (4, None, None),          # nulls pass both (not their business)
        ],
        "id int, status string, email string",
    )
    valid, invalid = validate(
        df,
        [
            EnumRule("status", allowed=("O", "F", "P")),
            RegexRule("email", pattern=r"[^@\s]+@[^@\s]+\.[^@\s]+"),
        ],
        [],
    )
    assert {r.id for r in valid.collect()} == {1, 4}
    errs = {r.id: r.validation_errors for r in invalid.collect()}
    assert errs[2] == "Invalid status value"
    assert errs[3] == "Malformed email"


def test_expectations_single_aggregate_report(spark):
    from lakehouse_architecture_spark.operators.expectations import (
        ExpectBetween,
        ExpectInSet,
        ExpectNotNull,
        ExpectUnique,
        evaluate_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, "A", 10.0),
            (2, "A", 20.0),
            (2, "B", None),     # duplicate id, null price
            (4, "Z", 999.0),    # out-of-set status, out-of-range price
        ],
        "id long, status string, price double",
    )
    rep = {
        r.expectation: (r.n_rows, r.n_satisfied, r.passed)
        for r in evaluate_expectations(
            df,
            [
                ExpectNotNull("price", min_ratio=0.75),
                ExpectUnique("id"),
                ExpectInSet("status", allowed=("A", "B")),
                ExpectBetween("price", min_ratio=0.5, lo=0.0, hi=100.0),
            ],
        ).collect()
    }
    assert rep["not_null(price)"] == (4, 3, True)       # 3/4 >= .75
    assert rep["unique(id)"] == (4, 3, False)           # 3 distinct of 4
    assert rep["in_set(status)"] == (4, 3, False)       # Z fails, ratio 1.0
    assert rep["between(price,0.0,100.0)"] == (4, 2, True)  # 2/4 >= .5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no expectations"):
        evaluate_expectations(df, [])
