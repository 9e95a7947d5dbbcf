"""Output checks against references the engine does not compute itself.

backfill: each feature table, read back through the commit log, must equal
          DuckDB running the registry's oracle SQL over the generated events.
ingest:   raw rows, DLQ rows and the per-symbol latest rows must equal the
          generator's bookkeeping over the files that landed.
(serve's sampled snapshots are compared inside the JVM.)

Each check is a dict {"name", "ok", "detail"}.
"""
import glob
import os

import duckdb

# q_regime labels a tick 'up'/'down'/'neutral' by comparing its price with a
# floating-point 20-tick average. Where the exact average of three or more
# prices equals the price, the label is decided by summation order, which
# differs between engines. These ticks are found with exact integer-cent sums
# and their label is not compared; every other value is (an average of one or
# two prices is exact in both). The count is reported with the check.
_REGIME_TIES = """
SELECT time, symbol FROM (
  SELECT time, symbol, count(*) OVER w AS n,
         count(*) OVER w * CAST(round(price * 100) AS BIGINT)
           = sum(CAST(round(price * 100) AS BIGINT)) OVER w AS tie
  FROM trades
  WINDOW w AS (PARTITION BY symbol ORDER BY time
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
WHERE tie AND n > 2"""


def _columns(con, rel):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {rel}").fetchall()}


def _select(cols, rel, ties=None):
    """Columns in name order, timestamps as UTC wall time; on tie rows the
    regime label is blanked."""
    out = []
    for c, t in sorted(cols.items()):
        e = f'CAST("{c}" AS TIMESTAMP)' if t.startswith("TIMESTAMP") else f'"{c}"'
        if ties and c == "regime_tag":
            e = (f"CASE WHEN (CAST(time AS TIMESTAMP), symbol) IN "
                 f"(SELECT (time, symbol) FROM {ties}) THEN NULL ELSE {e} END")
        out.append(f'{e} AS "{c}"')
    return f"SELECT {', '.join(out)} FROM {rel}"


def backfill(in_dir, oracle_checks):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    ev = os.path.join(in_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{ev}')")
    out = []
    for q, spec in sorted(oracle_checks.items()):
        files = sorted(glob.glob(os.path.join(spec["dir"], "*.parquet")))
        con.execute(f"CREATE OR REPLACE TABLE got AS SELECT * FROM read_parquet({files!r})")
        con.execute(f"CREATE OR REPLACE TABLE want AS {spec['oracle']}")
        got, want = _columns(con, "got"), _columns(con, "want")
        n = con.execute("SELECT count(*) FROM want").fetchone()[0]
        ties = None
        note = ""
        if q == "q_regime":
            cte = spec["oracle"].split("\nSELECT", 1)[0]
            con.execute(f"CREATE OR REPLACE TABLE ties AS {cte}{_REGIME_TIES}")
            ties = "ties"
            nt = con.execute("SELECT count(*) FROM ties").fetchone()[0]
            note = f"; {nt} exact price = SMA ties, label not compared"
        if sorted(got) != sorted(want):
            err = f"columns engine={sorted(got)} oracle={sorted(want)}"
        else:
            a, b = _select(got, "got", ties), _select(want, "want", ties)
            bad = con.execute(f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) "
                              f"UNION ALL ({b} EXCEPT ALL {a}))").fetchone()[0]
            err = f"{bad} rows differ" if bad else None
        out.append({"name": f"backfill {q} vs DuckDB oracle", "ok": err is None,
                    "detail": (err or f"{n} rows equal") + note})
    return out


def ingest(book, extra):
    n = int(extra["files_landed"])
    files = book[:n]
    clean = sum(f["clean"] for f in files)
    dlq = sum(f["dlq"] for f in files)
    latest = {}
    for f in files:
        for s, key in f["latest"].items():
            if s not in latest or tuple(key) > tuple(latest[s]):
                latest[s] = key
    got = {r[0]: [int(r[1]), int(r[2]), float(r[3])] for r in extra["latest"]}
    bad = sorted(s for s in set(got) | set(latest) if got.get(s) != latest.get(s))
    batches = int(extra["upsert_batches"])
    return [
        {"name": "ingest upsert batches", "ok": batches == n,
         "detail": f"engine={batches} files landed={n}"},
        {"name": "ingest raw rows", "ok": extra["raw_rows"] == clean,
         "detail": f"engine={extra['raw_rows']} generator={clean} over {n} files"},
        {"name": "ingest DLQ rows", "ok": extra["dlq_rows"] == dlq,
         "detail": f"engine={extra['dlq_rows']} generator={dlq}"},
        {"name": "ingest latest per symbol", "ok": not bad and len(got) == len(latest),
         "detail": f"{len(latest)} symbols" + (f"; differ: {bad[:5]}" if bad else "")},
    ]
