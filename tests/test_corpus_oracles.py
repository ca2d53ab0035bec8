"""Driver-style DuckDB oracle verification for the STAGED batch-11
queries (corpus operators) — the same comparison the round driver runs
(row count + column names + order-insensitive sorted-column value
compare), executed locally until the queries get round-6 window slots.

Kept separate from the live registry on purpose: queries_batch11 stages
into its own dicts so importing it here cannot grow ``queries()``
mid-round (see its module docstring)."""

from __future__ import annotations

import duckdb
import pytest

from datapipelineetl_spark import catalog
from datapipelineetl_spark import queries_batch11 as b11
from datapipelineetl_spark import queries_batch12 as b12
from datapipelineetl_spark import queries_batch13 as b13
from datapipelineetl_spark import queries_batch14 as b14
from datapipelineetl_spark import queries_batch15 as b15
from datapipelineetl_spark import queries_batch16 as b16
from datapipelineetl_spark import queries_batch17 as b17
from datapipelineetl_spark import queries_batch18 as b18
from datapipelineetl_spark import queries_batch19 as b19
from datapipelineetl_spark import queries_batch20 as b20
from datapipelineetl_spark import queries_batch21 as b21


def _discover_staged():
    """pkgutil discovery, not a hand-kept merge (the r13 VERDICT lesson,
    applied here in r14 alongside the plan lint): every queries_batch*
    module's STAGED dicts run the driver-style compare — a new battery
    is covered with no edit here."""
    import importlib
    import pkgutil

    import datapipelineetl_spark as _pkg

    queries: dict = {}
    oracles: dict = {}
    for info in sorted(pkgutil.iter_modules(_pkg.__path__), key=lambda i: i.name):
        if not info.name.startswith("queries_batch"):
            continue
        mod = importlib.import_module(f"datapipelineetl_spark.{info.name}")
        queries.update(getattr(mod, "STAGED_QUERIES", {}))
        oracles.update(getattr(mod, "STAGED_ORACLES", {}))
    return queries, oracles


_STAGED_QUERIES, _STAGED_ORACLES = _discover_staged()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def cell(v):
        return repr(v) if isinstance(v, float) else str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(_STAGED_QUERIES))
def test_staged_query_matches_oracle(spark, sf_dir, duck, name):
    from datapipelineetl_spark.queries import driver_unsafe_cols

    sdf = _STAGED_QUERIES[name](spark, sf_dir)
    # the driver's pandas lexsort cannot hash list/dict/Row cells (the
    # r7 q_encode_tokens miss) — the local _canon below stringifies them
    # happily, so guard the schema BEFORE the value compare
    unsafe = driver_unsafe_cols(sdf.schema)
    assert not unsafe, (
        f"{name}: driver-unhashable output columns {unsafe}; md5-digest "
        "the collection or posexplode to scalar rows"
    )
    srows, scols = sdf.collect(), sdf.columns
    res = duck.execute(_STAGED_ORACLES[name])
    orows = res.fetchall()
    ocols = [d[0] for d in res.description]
    assert len(srows) == len(orows), f"{name}: rowcount {len(srows)} != {len(orows)}"
    assert sorted(scols) == sorted(ocols), f"{name}: columns {scols} != {ocols}"
    sc, oc = _canon(srows, scols), _canon(orows, ocols)
    if sc != oc:
        diff = next(i for i, (a, b) in enumerate(zip(sc, oc)) if a != b)
        raise AssertionError(
            f"{name}: value mismatch at sorted-row {diff}: {sc[diff]} vs {oc[diff]}"
        )
    assert len(srows) > 0, f"{name}: degenerate empty result"


def test_staged_registry_promoted():
    """Rounds 6-16 promoted the staged batches: __spark_entry__ calls
    b11-b23.register(), so the live registry must contain every
    promoted query with its oracle, and register() must be idempotent
    (the driver and the tests may both import the entry module)."""
    import __spark_entry__ as entrymod

    from datapipelineetl_spark import queries as q
    from datapipelineetl_spark import queries_batch22 as b22
    from datapipelineetl_spark import queries_batch23 as b23

    for b, size in ((b11, 10), (b12, 12), (b13, 7), (b14, 11),
                    (b15, 9), (b16, 1), (b17, 6), (b18, 2), (b19, 5),
                    (b20, 3), (b21, 4), (b22, 2), (b23, 2)):
        assert set(b.STAGED_ORACLES) == set(b.STAGED_QUERIES)
        assert len(b.STAGED_QUERIES) == size
    live = entrymod.queries()
    n = len(live)
    for b in (b11, b12, b13, b14, b15, b16, b17, b18, b19, b20, b21,
              b22, b23):
        assert set(b.STAGED_QUERIES) <= set(live)
        assert set(b.STAGED_ORACLES) <= set(q.ORACLES)
        b.register()
    assert len(entrymod.queries()) == n


def test_bench_headline_rows_are_registered():
    """bench.py registers through __spark_entry__ and times every
    HEADLINE row it names: each of the 49 must be a live query, or the
    run loop would fail on it."""
    import __spark_entry__ as entrymod
    import bench

    assert len(bench.HEADLINE) == 49
    assert len(set(bench.HEADLINE)) == 49
    assert set(bench.HEADLINE) <= set(entrymod.queries())
