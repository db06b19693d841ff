"""``layout_zorder_pruning`` against its DuckDB oracle on degenerate
lineitem tables: empty, and every key NULL.

The plan's box count is a SUM over a group table and its touched-shard
count a SUM of a nullable predicate; the oracle counts with ``count(*)``
and ``CASE WHEN .. THEN 1 ELSE 0``. Both must read 0, never NULL, when no
row (or no non-NULL key) exists.
"""

import duckdb
import pytest

from counsel_data_pipeline_spark.plans.maintenance import _zorder_oracle, zorder_pruning

LINEITEM = {
    "empty": "SELECT 1::BIGINT AS l_partkey, 1::BIGINT AS l_suppkey FROM range(0)",
    "null_keys": "SELECT NULL::BIGINT AS l_partkey, NULL::BIGINT AS l_suppkey FROM range(3)",
}


@pytest.mark.parametrize("case", sorted(LINEITEM))
def test_zorder_pruning_matches_oracle_on_degenerate_lineitem(spark, tmp_path, case):
    path = tmp_path / "lineitem.parquet"
    con = duckdb.connect()
    try:
        con.execute(f"COPY ({LINEITEM[case]}) TO '{path}' (FORMAT parquet)")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(_zorder_oracle())
        cols = [d[0] for d in cur.description]
        want = sorted((dict(zip(cols, r)) for r in cur.fetchall()), key=lambda r: r["layout"])
    finally:
        con.close()
    got = sorted(
        (r.asDict() for r in zorder_pruning(spark, str(tmp_path)).collect()),
        key=lambda r: r["layout"],
    )
    assert got == want
    assert all(r["rows_in_box"] == 0 for r in got)
