"""Entries served from one SQL text (``registry.register_sql``): the
placeholders name fixture tables only, the stored oracle is the text
with bare table names, and concurrent calls bind their own tables."""

from __future__ import annotations

import threading

import pytest

from sql_engine_triangle_spark.catalog import TABLES
from sql_engine_triangle_spark.queries import registry
from tests.conftest import SF_DIR, SF_DIR_SMALL

SQL_NAMES = [n for n in registry.names() if registry.get(n).sql is not None]


def test_sql_entries_name_only_fixture_tables():
    assert SQL_NAMES
    for name in SQL_NAMES:
        tables = registry.sql_tables(registry.get(name).sql)
        assert tables and set(tables) <= set(TABLES), name


@pytest.mark.parametrize(
    "text",
    [
        "SELECT count(*) FROM {lineitems}",
        "SELECT count(*) FROM {lineitem!r}",
        "SELECT count(*) FROM {lineitem:>9}",
        "SELECT * FROM {0}",
    ],
)
def test_unknown_placeholder_fails_at_registration(text):
    with pytest.raises(ValueError, match="not a fixture table"):
        registry.register_sql("test_bad_placeholder", text)
    assert "test_bad_placeholder" not in registry.names()


def test_sql_entry_oracles_are_bare_sql():
    for name in SQL_NAMES:
        q = registry.get(name)
        assert "{" not in q.oracle and "}" not in q.oracle, name
        assert q.oracle == q.sql.format(**{t: t for t in TABLES}), name


def _cte_chain_rows(spark, sf_dir):
    df = registry.get("sql_entry_cte_chain").fn(spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_calls_bind_their_own_tables(spark):
    """Each call binds its frames to uniquely named temp views that
    are dropped after analysis, so two threads over different scale
    factors on one session neither clobber each other nor leave a
    view behind."""
    want = {sf: _cte_chain_rows(spark, sf) for sf in (SF_DIR_SMALL, SF_DIR)}
    assert want[SF_DIR_SMALL] != want[SF_DIR]
    got: dict[str, list] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def run(sf_dir):
        try:
            barrier.wait(timeout=60)
            for _ in range(3):
                got.setdefault(sf_dir, []).append(_cte_chain_rows(spark, sf_dir))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(sf,)) for sf in want]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    for sf, rows in want.items():
        assert got[sf] == [rows] * 3, sf
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark")]
    assert left == []
