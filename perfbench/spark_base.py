"""What the parts of the Spark workload share: the span around each Spark
action, and an order-insensitive comparison of result rows."""

from __future__ import annotations

import math


def norm_rows(columns, rows) -> list[tuple]:
    """Rows as sorted tuples of ``repr`` strings, columns in name order, NaN
    spelled one way: the comparison the repository's oracle gate uses."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v.item() if hasattr(v, "item") else v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def duckdb_rows(con, sql: str) -> list[tuple]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return norm_rows(cols, cur.fetchall())


class SparkPart:
    """One group of operations run in the Spark workload's session.

    A part prepares its inputs and expectations (``prepare``), receives the
    session once it has started (``bind``), and then supplies the operations
    of each rotation (``rotation``) and of the final checks."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.spark = None

    def bind(self, spark) -> None:
        self.spark = spark

    def action(self, fn):
        with self.tracer.span("spark.action"):
            return fn()

    def final_checks(self) -> list:
        return []

    def layers(self, runner) -> dict[str, float]:
        return {}

    def report(self, runner) -> dict:
        return {}

