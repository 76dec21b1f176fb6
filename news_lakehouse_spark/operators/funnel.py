"""Ordered funnel conversion over an event stream.

Extension over the `events` table (no reference analog — the reference
has no event analytics at all): how many users completed step 1, then
step 2 AFTER step 1, then step 3 AFTER step 2, with conversion rates.

Plan shape: one groupBy(user) per step, each consuming only that
step's filtered events joined to the previous step's (user, ts)
frontier. The frontier is #converted-users rows — it broadcasts, so
each step is a broadcast semi-filter + partial-agg min, and the raw
event table is scanned once per step with the type filter pushed to
parquet. An N-step funnel is N cheap passes, never a sessionized
collect_list of the whole stream.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_lakehouse_spark.materialize import cut


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    materialize: bool = True,
) -> DataFrame:
    """(step_idx, step, n_users, conv_from_first, conv_from_prev).

    A user counts for step k if they have a step-k event strictly
    after their earliest qualifying step-(k-1) event (earliest-frontier
    semantics — the standard strict-order funnel).

    ``materialize`` checkpoints each (tiny) per-step frontier so the
    chain is computed once — but that runs Spark jobs DURING plan
    construction. Pass False for plan-only consumers (.explain(),
    audits): the returned plan is fully lazy, at the cost of step k's
    count and step k+1's join each re-deriving the step-1..k chain
    (O(N^2) event-table scans for an N-step funnel when executed).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    frontier: DataFrame | None = None
    counts: list[tuple[str, DataFrame]] = []
    for step in steps:
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if frontier is None:
            nxt = ev.groupBy("u").agg(F.min("t").alias("t"))
        else:
            nxt = (
                ev.join(F.broadcast(frontier.withColumnRenamed("t", "t_prev")), "u")
                .filter(F.col("t") > F.col("t_prev"))
                .groupBy("u")
                .agg(F.min("t").alias("t"))
            )
        # materialize each (tiny) frontier: without this, step k's count
        # and step k+1's join both re-derive the whole step-1..k chain,
        # making an N-step funnel O(N^2) event-table scans
        frontier = cut(nxt)[0] if materialize else nxt
        counts.append((step, frontier.agg(F.count("*").alias("n")).select("n")))

    rows = [
        c.select(
            F.lit(i + 1).alias("step_idx"),
            F.lit(step).alias("step"),
            F.col("n").cast("long").alias("n_users"),
        )
        for i, (step, c) in enumerate(counts)
    ]
    all_steps = reduce(lambda a, b: a.unionByName(b), rows)
    # conversion rates via a window over the (tiny) per-step frame
    from pyspark.sql import Window

    w = Window.orderBy("step_idx")
    return all_steps.select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.col("n_users") / F.first("n_users").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            6,
        ).alias("conv_from_first"),
        F.round(
            F.col("n_users") / F.lag("n_users", 1, None).over(w), 6
        ).alias("conv_from_prev"),
    )
