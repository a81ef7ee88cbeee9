"""Declarative validation-rule compiler.

Re-expresses the reference's ``validate_data``
(/root/reference/src/etl_utils.py:83-201) as a rule-object -> Column
compiler. Semantics preserved exactly:

- per-row error accumulation in an ``array<string>`` column, appended in
  rule order (schema-field order for nullability rules first, then domain
  rules, then FK rules) — /root/reference/src/etl_utils.py:100-169;
- FK checks flag a violation when the column is non-null and has no match
  in the reference table — expressed as ONE left-outer join against the
  distinct key set (the reference used anti-join + back-join,
  src/etl_utils.py:124-159; one join is the same semantics with half the
  shuffles, and the key set broadcasts when small);
- errors collapsed with ``concat_ws('; ')`` only when non-empty, else NULL
  (src/etl_utils.py:176-180);
- split into (valid, invalid) by error presence (src/etl_utils.py:185-187):
  :func:`validate` returns the split, :func:`annotate` the frame before
  it.

Everything is a lazy Column expression — no driver-side collect anywhere
(the v1 IN-list bug at /root/reference/src/glue_etl.py:125-147 is
deliberately not reproduced), so the same plan runs on 100 TB: the only
shuffles are the FK joins, and those broadcast when the key set is small.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

ERROR_LIST_COL = "_validation_error_list"
ERROR_COL = "validation_errors"


@dataclass(frozen=True)
class Rule:
    """A columnar rule: ``condition`` is True when the row VIOLATES it."""

    column: str
    message: str

    def condition(self, df: DataFrame) -> Column:
        raise NotImplementedError


@dataclass(frozen=True)
class NotNullRule(Rule):
    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(self, "message", f"Null {self.column}")

    def condition(self, df: DataFrame) -> Column:
        return F.col(self.column).isNull()


@dataclass(frozen=True)
class PositiveRule(Rule):
    """Violated when present and <= 0 (0 is invalid —
    /root/reference/src/etl_utils.py:166)."""

    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(self, "message", f"Non-positive {self.column}")

    def condition(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & (c <= 0)


@dataclass(frozen=True)
class RangeRule(Rule):
    lo: float | None = None
    hi: float | None = None
    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(self, "message", f"Out-of-range {self.column}")

    def condition(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        cond = F.lit(False)
        if self.lo is not None:
            cond = cond | (c < F.lit(self.lo))
        if self.hi is not None:
            cond = cond | (c > F.lit(self.hi))
        return c.isNotNull() & cond


@dataclass(frozen=True)
class EnumRule(Rule):
    """Violated when present and outside the allowed value set."""

    allowed: tuple = ()
    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(self, "message", f"Invalid {self.column} value")

    def condition(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.isin(*self.allowed)


@dataclass(frozen=True)
class RegexRule(Rule):
    """Violated when present and not fully matching ``pattern``."""

    pattern: str = ""
    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(self, "message", f"Malformed {self.column}")

    def condition(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        return c.isNotNull() & ~c.rlike(f"^(?:{self.pattern})$")


@dataclass(frozen=True)
class ForeignKeyRule:
    """FK integrity: ``column`` must resolve in ``ref_df.ref_column``.

    Violation = non-null value with no match (nulls are the nullability
    rules' business — matches /root/reference/src/etl_utils.py:128-140).
    """

    column: str
    ref_df: DataFrame
    ref_column: str
    message: str = ""

    def __post_init__(self):
        if not self.message:
            object.__setattr__(
                self, "message", f"Invalid {self.column} reference"
            )


def rules_from_schema(schema: StructType) -> list[Rule]:
    """Derive NotNull rules from schema nullability, in field order
    (/root/reference/src/etl_utils.py:113-121)."""
    return [NotNullRule(f.name) for f in schema.fields if not f.nullable]


def annotate(
    df: DataFrame,
    rules: list[Rule] | None = None,
    fk_rules: list[ForeignKeyRule] | None = None,
    error_col: str = ERROR_COL,
) -> DataFrame:
    """Compile rules into one lazy plan: ``df`` plus ``error_col``, the
    row's violations '; '-joined in rule order, NULL on a valid row.

    Use this over :func:`validate` when both sides of the split are
    consumed and the annotated frame is to be materialised once (the
    pipeline's ``process_dataset``); the split is then two filters over
    the materialised rows instead of two re-runs of the rules and joins.
    """
    rules = rules or []
    fk_rules = fk_rules or []

    out = df
    # One flat expression, not a nested when/otherwise accumulator: the
    # fold-style ``when(cond, append(acc,msg)).otherwise(acc)`` chain
    # embeds the whole prior accumulator TWICE per rule — a 2^k
    # expression tree for k rules (r16, guide §1.2 per-task work;
    # measured on the 6-rule order_items batch as most of the
    # validation stage's cost). ``array(when(c_i, msg_i)...)`` emits
    # null for satisfied rules and ``array_compact`` drops them, which
    # is exactly "append messages in rule order".
    if rules:
        acc = F.array_compact(
            F.array(
                *[
                    F.when(rule.condition(df), F.lit(rule.message))
                    for rule in rules
                ]
            )
        )
    else:
        acc = F.array().cast("array<string>")

    # FK rules need joins: one left-outer join per FK against the distinct
    # key set, then the marker feeds the same accumulator.
    out = out.withColumn(ERROR_LIST_COL, acc)
    for i, fk in enumerate(fk_rules):
        marker = f"_fk_match_{i}"
        keys = (
            fk.ref_df.select(F.col(fk.ref_column).alias("_fk_key"))
            .distinct()
            .withColumn(marker, F.lit(True))
        )
        out = out.join(
            keys, on=out[fk.column] == keys["_fk_key"], how="left_outer"
        ).drop("_fk_key")
        viol = F.col(fk.column).isNotNull() & F.col(marker).isNull()
        out = out.withColumn(
            ERROR_LIST_COL,
            F.when(
                viol, F.array_append(F.col(ERROR_LIST_COL), F.lit(fk.message))
            ).otherwise(F.col(ERROR_LIST_COL)),
        ).drop(marker)

    return out.withColumn(
        error_col,
        F.when(
            F.size(ERROR_LIST_COL) > 0, F.concat_ws("; ", F.col(ERROR_LIST_COL))
        ).otherwise(F.lit(None).cast("string")),
    ).drop(ERROR_LIST_COL)


def validate(
    df: DataFrame,
    rules: list[Rule] | None = None,
    fk_rules: list[ForeignKeyRule] | None = None,
    error_col: str = ERROR_COL,
) -> tuple[DataFrame, DataFrame]:
    """:func:`annotate` split lazily into ``(valid, invalid)``.

    ``invalid`` carries ``error_col`` (string, '; '-joined in rule order);
    ``valid`` has the source columns only. Each side re-runs the rules
    and FK joins on its own action.
    """
    out = annotate(df, rules, fk_rules, error_col)
    valid = out.filter(F.col(error_col).isNull()).drop(error_col)
    invalid = out.filter(F.col(error_col).isNotNull())
    return valid, invalid


def with_rejection_audit(
    invalid: DataFrame, source: str, job_name: str = "lakehouse-spark"
) -> DataFrame:
    """Audit columns on rejected rows
    (/root/reference/src/etl_utils.py:249-253)."""
    return (
        invalid.withColumn("rejection_time", F.current_timestamp())
        .withColumn("source", F.lit(source))
        .withColumn("job_name", F.lit(job_name))
    )


def rejection_summary(invalid: DataFrame, top_k: int = 5) -> DataFrame:
    """Error-type histogram, top-K
    (/root/reference/src/glue_etl.py:282-289) with a deterministic
    tie-break."""
    return (
        invalid.groupBy(ERROR_COL)
        .count()
        .orderBy(F.desc("count"), F.asc(ERROR_COL))
        .limit(top_k)
    )
