"""Independent DuckDB recomputation of the etl_incremental outputs from the
generated inputs. Each check returns (name, ok, detail)."""
import hashlib

import duckdb

RANKED = """
WITH e AS (
  SELECT event_id, user_key, amount, qty, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
  FROM read_parquet('{raw}/*.parquet')
  WHERE qty > 0 AND CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'),
j AS (SELECT e.*, u.segment FROM e JOIN read_parquet('{dim}/*.parquet') u USING (user_key)),
d AS (
  SELECT day, segment, count(*) AS n_events, CAST(sum(amount) AS BIGINT) AS amount,
         CAST(sum(qty) AS BIGINT) AS qty, count(DISTINCT user_key) AS users
  FROM j GROUP BY day, segment)
SELECT day, segment, n_events, amount, qty, users,
  CAST(rank() OVER (PARTITION BY day ORDER BY amount DESC, segment) AS BIGINT) AS day_rank,
  CAST(sum(amount) OVER (PARTITION BY segment ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_amount
FROM d ORDER BY day, segment
"""

GOT = """
SELECT day, segment, n_events, amount, qty, users, day_rank, running_amount
FROM read_parquet('{out}/*.parquet') ORDER BY day, segment
"""

LANDED = """
SELECT count(*), CAST(sum(amount) AS BIGINT), count(DISTINCT event_id)
FROM read_parquet('{path}')
"""


def digest(rows):
    return hashlib.sha256(repr([tuple(r) for r in rows]).encode()).hexdigest()[:16]


def etl(o):
    con = duckdb.connect()
    try:
        want = con.execute(RANKED.format(raw=o["raw"], dim=o["dim"], lo=o["from"],
                                         hi=o["until"])).fetchall()
        got = con.execute(GOT.format(out=o["out"])).fetchall()
        land_want = con.execute(
            LANDED.format(path=o["raw"] + "/*.parquet") + " WHERE qty > 0 AND CAST(ts AS DATE)"
            f" BETWEEN DATE '{o['from']}' AND DATE '{o['until']}'").fetchone()
        land_got = con.execute(LANDED.format(path=o["land"] + "/inc_*/*.parquet")).fetchone()
    finally:
        con.close()
    return [
        ("etl.ranked_matches_duckdb", digest(want) == digest(got),
         f"{len(got)} rows, digest {digest(got)} vs oracle {digest(want)}"),
        ("etl.landed_matches_duckdb", land_want == land_got,
         f"landed {land_got} vs oracle {land_want}"),
    ]
