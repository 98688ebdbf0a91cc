"""Correctness oracle: DuckDB over the same generated slices.

After a chain, the engine's net changelog (ops 0/3 add a row, ops 1/2
remove one) must equal the oracle's result as a multiset, and the output
offsets must be contiguous across the chain.

Late rows follow each pipeline's contract:
  - `pl_interval_window`: a row at or below its input's previous watermark
    is dropped. Generated late rows lag that watermark by two days or more,
    so their windows closed long ago and the tumbling aggregate drops every
    pair they could form.
  - `pl_keyed_topn`: a non-windowed rank has no watermark; late rows rank
    like any other.
  - `pl_agg_asof`: the continuous aggregate folds late purchases. A version
    whose event time is at or below the previous joint watermark is dropped
    by the temporal join. Clicks (the probe side) are generated on time:
    a late probe resolves against version history that size-triggered
    compaction may already have pruned, which the engine leaves undefined.
"""

from __future__ import annotations

import duckdb

from .gen import Slice

# Output columns compared per pipeline, as (name, DuckDB cast).
OUTPUT_COLUMNS = {
    "pl_interval_window": [
        ("event_time", "TIMESTAMP"),
        ("user_id", "BIGINT"),
        ("n_rows", "BIGINT"),
        ("purchase_total", "BIGINT"),
        ("click_total", "BIGINT"),
    ],
    "pl_keyed_topn": [
        ("place", "BIGINT"),
        ("event_time", "TIMESTAMP"),
        ("user_id", "BIGINT"),
        ("event_type", "VARCHAR"),
        ("value", "BIGINT"),
    ],
    "pl_agg_asof": [
        ("event_time", "TIMESTAMP"),
        ("user_id", "BIGINT"),
        ("qty", "BIGINT"),
        ("rate", "BIGINT"),
    ],
}

_ORACLE_SQL = {
    "pl_interval_window": """
WITH p AS (SELECT * FROM purchases WHERE NOT late),
c AS (SELECT * FROM clicks WHERE NOT late),
pc AS (
  SELECT p.event_time, p.user_id, p.value AS purchase_value,
         COALESCE(c.value, 0) AS click_value
  FROM p LEFT JOIN c ON p.user_id = c.user_id
   AND c.event_time BETWEEN p.event_time AND p.event_time + INTERVAL 1 HOUR
),
ds AS (
  SELECT time_bucket(INTERVAL 1 DAY, event_time) AS event_time, user_id,
         count(*) AS n_rows, sum(purchase_value) AS purchase_total,
         sum(click_value) AS click_total
  FROM pc GROUP BY 1, 2
)
SELECT * FROM ds
WHERE click_total > purchase_total
  AND event_time + INTERVAL 1 DAY <= (SELECT max(wm) FROM wms) - INTERVAL 1 HOUR
""",
    "pl_keyed_topn": """
SELECT * FROM (
  SELECT row_number() OVER (PARTITION BY user_id ORDER BY value DESC) AS place,
         event_time, user_id, event_type, value
  FROM events
) WHERE place <= 3
""",
    "pl_agg_asof": """
WITH per_slice AS (
  SELECT user_id, k, max(event_time) AS mx, sum(value) AS sm
  FROM purchases GROUP BY 1, 2
),
cum AS (
  SELECT user_id, k,
         max(mx) OVER w AS cmx, sum(sm) OVER w AS csum
  FROM per_slice
  WINDOW w AS (PARTITION BY user_id ORDER BY k ROWS UNBOUNDED PRECEDING)
),
chg AS (
  SELECT *, lag(cmx) OVER w AS pmx, lag(csum) OVER w AS psum
  FROM cum WINDOW w AS (PARTITION BY user_id ORDER BY k)
),
versions AS (
  SELECT chg.user_id, chg.cmx AS vt, chg.csum AS rate, chg.k
  FROM chg LEFT JOIN wms prev ON prev.k = chg.k - 1
  WHERE (chg.pmx IS NULL OR chg.pmx <> chg.cmx OR chg.psum <> chg.csum)
    AND (prev.wm IS NULL OR chg.cmx > prev.wm)
),
valid AS (
  SELECT *, lead(vt) OVER (PARTITION BY user_id ORDER BY vt, k) AS vto FROM versions
)
SELECT c.event_time, c.user_id, c.value AS qty, v.rate
FROM clicks c JOIN valid v
  ON c.user_id = v.user_id AND v.vt <= c.event_time
 AND (c.event_time < v.vto OR v.vto IS NULL)
WHERE c.event_time <= (SELECT max(wm) FROM wms)
""",
}


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _register_inputs(con, sent: list[dict[str, Slice]]) -> None:
    """One table per input (all slices, with slice index `k` and a `late`
    flag against the previous slice's watermark) and a `wms` table."""
    names = list(sent[0])
    for name in names:
        parts = []
        for k, slices in enumerate(sent):
            s = slices[name]
            prev = sent[k - 1][name].watermark if k > 0 else None
            late = (
                f"event_time::TIMESTAMP <= TIMESTAMP '{prev.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
                if prev is not None
                else "false"
            )
            parts.append(
                f"SELECT * EXCLUDE (event_time), event_time::TIMESTAMP AS event_time, "
                f"{k} AS k, {late} AS late FROM read_parquet('{s.path}')"
            )
        con.execute(f"CREATE OR REPLACE TABLE {name} AS " + " UNION ALL ".join(parts))
    wm_rows = ", ".join(
        f"({k}, TIMESTAMP '{min(s.watermark for s in slices.values()).strftime('%Y-%m-%d %H:%M:%S.%f')}')"
        for k, slices in enumerate(sent)
    )
    con.execute(f"CREATE OR REPLACE TABLE wms AS SELECT * FROM (VALUES {wm_rows}) t(k, wm)")


def _net_sql(pipeline: str, files: list[str], mutate: str | None = None) -> str:
    cols = OUTPUT_COLUMNS[pipeline]
    proj = ", ".join(f"{c}::{t} AS {c}" for c, t in cols)
    names = ", ".join(c for c, _ in cols)
    src = f"SELECT op, {proj} FROM read_parquet({files!r})"
    if mutate == "drop_row":
        src = f"SELECT * FROM ({src}) QUALIFY row_number() OVER () > 1"
    elif mutate == "flip_op":
        src = (
            f"SELECT CASE WHEN row_number() OVER () = 1 THEN "
            f"(CASE WHEN op IN (0, 3) THEN 1 ELSE 0 END) ELSE op END AS op, {names} "
            f"FROM ({src})"
        )
    return (
        f"SELECT {names}, sum(CASE WHEN op IN (0, 3) THEN 1 ELSE -1 END) AS n "
        f"FROM ({src}) GROUP BY ALL HAVING n <> 0"
    )


def _oracle_net_sql(pipeline: str) -> str:
    cols = OUTPUT_COLUMNS[pipeline]
    proj = ", ".join(f"{c}::{t} AS {c}" for c, t in cols)
    names = ", ".join(c for c, _ in cols)
    return f"SELECT {names}, count(*) AS n FROM (SELECT {proj} FROM ({_ORACLE_SQL[pipeline]})) GROUP BY ALL"


def mismatches(
    pipeline: str, sent: list[dict[str, Slice]], files: list[str], mutations=(None,)
) -> tuple[list[int], int]:
    """(for each of `mutations`, the rows that differ between the engine's
    net changelog and the oracle; the rows the oracle expects). A mutation
    other than None corrupts the engine output first ("drop_row" or
    "flip_op"), for the negative self-test."""
    con = _connect()
    try:
        _register_inputs(con, sent)
        con.execute(f"CREATE TABLE expected AS {_oracle_net_sql(pipeline)}")
        diffs = []
        for mutate in mutations:
            if files:
                con.execute(f"CREATE OR REPLACE TABLE actual AS {_net_sql(pipeline, files, mutate)}")
            else:
                con.execute("CREATE OR REPLACE TABLE actual AS SELECT * FROM expected LIMIT 0")
            diffs.append(
                con.execute(
                    "SELECT count(*) FROM ((SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)"
                    " UNION ALL (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected))"
                ).fetchone()[0]
            )
        expected = con.execute("SELECT coalesce(sum(n), 0) FROM expected").fetchone()[0]
        return diffs, int(expected)
    finally:
        con.close()


def offset_errors(intervals: list[tuple[int, int] | None], files: list[str | None]) -> list[int]:
    """Invocation indexes whose output offsets are not exactly the reported
    interval, or whose interval does not continue the previous one."""
    bad = []
    expect = 0
    con = _connect()
    try:
        for i, (iv, f) in enumerate(zip(intervals, files)):
            if iv is None:
                if f is not None:
                    bad.append(i)
                continue
            lo, hi = iv
            if f is None or lo != expect:
                bad.append(i)
                expect = hi + 1
                continue
            n, mn, mx, distinct = con.execute(
                f"SELECT count(*), min(\"offset\"), max(\"offset\"), count(DISTINCT \"offset\")"
                f" FROM read_parquet('{f}')"
            ).fetchone()
            if (n, mn, mx, distinct) != (hi - lo + 1, lo, hi, hi - lo + 1):
                bad.append(i)
            expect = hi + 1
    finally:
        con.close()
    return bad
