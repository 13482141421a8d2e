"""Output checks that run outside the JVM, after the timed region.

pit_serve: every served result's digest must match a plain
`row_number()` recompute, in DuckDB, over the generated event log as of
that tick (the bootstrap log plus the tick batches written before it).
The digest is the one PitServe.scala takes: rows as `|`-joined cells
(doubles as rounded hundredths, NULL as `~`), sorted, SHA-256.
"""
import glob
import hashlib
import os

import duckdb

LATEST = """
  SELECT user_id, event_id, {cols} FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE tick < $tick AND {kind} AND epoch_us(ts) <= $asof) t
  WHERE rn = 1"""
ACTIVITY = ("event_type <> 'purchase'",
            "event_type AS last_type, CAST(round(value * 100) AS BIGINT) AS last_value")
SPEND = ("event_type = 'purchase'", "CAST(round(value * 100) AS BIGINT) AS amount")


def digest(rows):
    lines = sorted("|".join("~" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def pit_serve(data, result):
    """Returns (attempted, failed, first few mismatches)."""
    con = duckdb.connect()
    ticks = sorted(glob.glob(os.path.join(data, "ticks", "*.parquet")))[:result["ticks_written"]]
    parts = [f"SELECT *, -1 AS tick FROM read_parquet('{data}/events.parquet')"]
    parts += [f"SELECT *, {i} AS tick FROM read_parquet('{p}')" for i, p in enumerate(ticks)]
    con.execute("CREATE TABLE ev AS " + " UNION ALL ".join(parts))
    latest_act = LATEST.format(kind=ACTIVITY[0], cols=ACTIVITY[1])
    latest_spend = LATEST.format(kind=SPEND[0], cols=SPEND[1])
    pit = f"""
      WITH lab AS (SELECT unnest($labels::BIGINT[]) AS user_id),
           sp AS ({latest_spend}), ac AS ({latest_act})
      SELECT lab.user_id, sp.amount, ac.last_type, ac.last_value
      FROM lab LEFT JOIN sp USING (user_id) LEFT JOIN ac USING (user_id)"""
    failed, bad = 0, []
    for s in result["serves"]:
        params = dict(tick=s["tick"], asof=s["asof_us"])
        if s["kind"] == 0:
            rows = con.execute(latest_act, params).fetchall()
        else:
            rows = con.execute(pit, dict(params, labels=s["labels"])).fetchall()
        if digest(rows) != s["digest"] or len(rows) != s["rows"]:
            failed += 1
            bad.append(dict(tick=s["tick"], kind=s["kind"], rows=s["rows"], want_rows=len(rows)))
    return len(result["serves"]), failed, bad[:3]
