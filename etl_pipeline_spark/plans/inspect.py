"""Physical-plan inspection helpers.

The 100 TB contract isn't "returns the right rows" — it's "returns the
right rows with the plan you'd want": filters reaching the Parquet scan,
projections pruned to the read schema, small sides broadcast, a partial +
final aggregation for LWW (never a row_number window), whole-stage
codegen spans wide. These helpers make those properties assertable in
tests so a regression in plan shape fails CI, not a cluster bill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain`` prints)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001 — no public string API
    jvm = df.sparkSession._jvm  # noqa: SLF001
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def plan_asserts(
    df: DataFrame,
    contains: list[str] | None = None,
    not_contains: list[str] | None = None,
    mode: str = "formatted",
) -> str:
    plan = explain_str(df, mode)
    for frag in contains or []:
        assert frag in plan, f"plan missing {frag!r}:\n{plan}"
    for frag in not_contains or []:
        assert frag not in plan, f"plan must not contain {frag!r}:\n{plan}"
    return plan
