"""Physical-plan assertions — pin the plans we rely on at 100 TB.

The reference tunes its physical layer by hand (§4: Kryo registration,
sort-shuffle opt-in, producer pools); Catalyst makes those choices for
us, but a silent regression (broadcast falling back to sort-merge, a
filter failing to push into the scan) only shows up as cost. These
helpers make the *intended* physical shape assertable in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode)


def assert_broadcast_join(df: DataFrame) -> None:
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected a broadcast join in plan:\n{plan[:4000]}")


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    """The named column must appear among the scan's PushedFilters."""
    plan = plan_string(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any(fragment in ln for ln in pushed), (
        f"no pushed filter containing {fragment!r}:\n" + "\n".join(pushed) + plan[:2000])


def assert_read_schema_only(df: DataFrame, table_file: str, allowed: set[str]) -> None:
    """Column pruning: the scan of ``table_file`` must read no columns
    beyond ``allowed``."""
    plan = plan_string(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln and table_file in plan:
            # e.g. ReadSchema: struct<l_orderkey:bigint,l_quantity:double>
            inner = ln.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols = {c.split(":")[0] for c in inner.split(",") if c}
            extra = cols - allowed
            assert not extra, f"scan reads unexpected columns {extra}: {ln}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, f"unexpected cartesian product:\n{plan[:4000]}"
