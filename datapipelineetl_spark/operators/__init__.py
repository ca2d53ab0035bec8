"""Pure DataFrame → DataFrame operators.

Every operator is declarative (built-in ``pyspark.sql.functions`` only, no
row-at-a-time Python) so Catalyst can push filters, prune columns, and keep
the whole chain inside whole-stage codegen. Pandas UDFs appear only where
built-ins genuinely can't express the semantics (MinHash banding, multimodal
decode stubs) and are Arrow-batched.
"""

from __future__ import annotations


def _arrow_rows(df, budget: int):
    """The size probe that also fetches: ONE Spark job collects at most
    ``budget + 1`` rows of ``df`` over Arrow. The rows come back as a
    ``pyarrow.Table`` when there are at most ``budget`` of them, else
    None (over budget)."""
    t = df.limit(budget + 1).toArrow()
    return t if t.num_rows <= budget else None
