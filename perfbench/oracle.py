"""Correctness checks: recompute each workload's outputs in DuckDB with the
engine's own oracle SQL (`SparkEntry.oracleSql`, carried in the result file)
over the same generated inputs, and compare values exactly.

Each check returns (attempted, failed, known, problems). `failed` counts
every failed operation; `known` counts those, by kind, that match one of the
engine's known defects below; `problems` lists every other mismatch or error,
and any of those makes the run incorrect.
"""
import datetime
import glob
import re

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)

# Known engine defects. Operations they hit count as failed; the inputs are
# not shaped to avoid them.
KNOWN_DEFECTS = {
    # The snapshot's EWM fold slices an empty price array under ANSI mode when
    # the symbol has no tick at or before the as-of time
    # (features/Ewm.scala, ewmOverArray), so snapshotVersioned raises.
    "pit_ewm_empty_slice": "PIT request for a symbol with no tick at or before the as-of time raises",
    # regime_tag compares the price with the raw SMA-20; when the price equals
    # the SMA exactly, the tag depends on the last bit of the 20-price sum,
    # which Spark and the oracle add in different orders (features/Regime.scala,
    # asof/PitSnapshot.scala).
    "regime_tie": "regime_tag differs from the oracle where price equals SMA-20 exactly",
}


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def parquet(dirs):
    files = sorted(f for d in dirs for f in glob.glob(f"{d}/*.parquet"))
    if not files:
        return None
    return "read_parquet([%s])" % ", ".join(f"'{f}'" for f in files)


def _columns(con, table):
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {table}").fetchall()}


def compare(con, engine_sql, oracle_sql):
    """None when both sides hold the same multiset of rows, else a message."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE eng AS {engine_sql}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE ora AS {oracle_sql}")
    a, b = _columns(con, "eng"), _columns(con, "ora")
    if sorted(a) != sorted(b):
        return f"columns engine={sorted(a)} oracle={sorted(b)}"

    def sel(types):
        return ", ".join(f'CAST("{c}" AS TIMESTAMP)' if types[c] == "TIMESTAMP WITH TIME ZONE"
                         else f'"{c}"' for c in sorted(types))
    na = con.execute("SELECT count(*) FROM eng").fetchone()[0]
    nb = con.execute("SELECT count(*) FROM ora").fetchone()[0]
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel(a)} FROM eng EXCEPT ALL SELECT {sel(b)} FROM ora))"
        f" + (SELECT count(*) FROM (SELECT {sel(b)} FROM ora EXCEPT ALL SELECT {sel(a)} FROM eng))"
    ).fetchone()[0]
    if na != nb or diff:
        return f"rows engine={na} oracle={nb} differing={diff}"
    return None


def _cte(sql, name):
    """(start, end) of the parenthesised body of CTE `name` in `sql`."""
    start = sql.index(f"{name} AS (") + len(f"{name} AS ")
    depth = 0
    for end in range(start, len(sql)):
        depth += {"(": 1, ")": -1}.get(sql[end], 0)
        if depth == 0:
            return start, end + 1
    raise ValueError(f"unbalanced CTE {name}")


def regime_ties_only(con):
    """After compare() of a regime table: True when every differing row is a
    price == SMA-20 tie that differs only in regime_tag."""
    cols = 'CAST("time" AS TIMESTAMP) AS t, symbol, price, sma_20'
    diff = [con.execute(f"SELECT t, symbol, price, sma_20 FROM (SELECT {cols}, regime_tag FROM {a} "
                        f"EXCEPT ALL SELECT {cols}, regime_tag FROM {b})").fetchall()
            for a, b in (("eng", "ora"), ("ora", "eng"))]
    return sorted(diff[0]) == sorted(diff[1]) and all(p == sma for (_, _, p, sma) in diff[0])


def pit_regime_tie(engine_rows, oracle_sql, con):
    """A one-row PIT snapshot that differs from the oracle only in regime_tag,
    with the last price (the latest bar's close) equal to sma_20."""
    cur = con.execute(oracle_sql)
    names = [d[0] for d in cur.description]
    ora = dict(zip(names, cur.fetchone()))
    eng = engine_rows[0] if len(engine_rows) == 1 else None
    if eng is None or sorted(eng) != sorted(names):
        return False
    differ = [n for n in names if _norm(eng[n]) != _norm(ora[n])]
    return differ == ["regime_tag"] and eng["close"] == eng["sma_20"]


def trades_sql(oracle_sql):
    """All rows of the oracle's `trades` view over `events`."""
    start, end = _cte(oracle_sql, "trades")
    return f"WITH trades AS {oracle_sql[start:end]}\nSELECT * FROM trades"


def with_entities(oracle_sql, timestamp_sql, entity_file):
    """Swap the oracle's generated `entities` CTE for a given entity frame,
    its event_timestamp computed by `timestamp_sql` from the file's columns."""
    start, end = _cte(oracle_sql, "entities")
    frame = (f"(SELECT symbol, CAST({timestamp_sql} AS TIMESTAMP) AS event_timestamp "
             f"FROM read_parquet('{entity_file}'))")
    return oracle_sql[:start] + frame + oracle_sql[end:]


def pit_oracle(oracle_sql, symbol, as_of):
    """The q_pit_snapshot oracle re-pinned to another (symbol, as-of)."""
    m = re.search(r"symbol = '([^']*)' AND time <= TIMESTAMP '([^']*)'", oracle_sql)
    if not m:
        raise ValueError("q_pit_snapshot oracle no longer pins symbol and as-of")
    return oracle_sql.replace(f"'{m.group(1)}'", f"'{symbol}'").replace(
        f"'{m.group(2)}'", f"'{as_of}'")


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def rows_equal(con, engine_rows, oracle_sql):
    """Compare collected engine rows (JSON, timestamps as epoch micros) with
    an oracle query, as multisets of rows keyed by column name."""
    cur = con.execute(oracle_sql)
    names = [d[0] for d in cur.description]
    ora = sorted(repr(tuple(_norm(r[i]) for i in sorted(range(len(names)), key=lambda i: names[i])))
                 for r in cur.fetchall())
    eng = sorted(repr(tuple(_norm(r.get(n)) for n in sorted(names))) for r in engine_rows)
    if engine_rows and sorted(engine_rows[0]) != sorted(names):
        return f"columns engine={sorted(engine_rows[0])} oracle={sorted(names)}"
    if ora != eng:
        return f"rows engine={len(eng)} oracle={len(ora)} differ"
    return None


def events_view(con, source):
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM {source}")


def check_backfill(result, input_dir):
    con = connect()
    events_view(con, f"read_parquet('{input_dir}/backfill/events.parquet')")
    oracles = result["oracles"]
    keys = {"ohlc": "q_ohlc_1m", "sma": "q_sma20", "ewm": "q_ewm12",
            "volatility": "q_volatility_1h", "vwap": "q_vwap_5m",
            "imbalance": "q_imbalance_5m", "spread": "q_spread",
            "large_trades": "q_large_trades", "regime": "q_regime"}
    cached = {}
    problems, attempted, known = [], 0, dict.fromkeys(KNOWN_DEFECTS, 0)
    for t in result["outputs"]["tables"]:
        attempted += 1
        name = t["name"]
        if name not in cached:
            con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{name} AS {oracles[keys[name]]}")
            cached[name] = f"SELECT * FROM exp_{name}"
        src = parquet(t["dirs"])
        err = "no data files" if src is None else compare(con, f"SELECT * FROM {src}", cached[name])
        if err and name == "regime" and regime_ties_only(con):
            known["regime_tie"] += 1
        elif err:
            problems.append(f"job {t['job']} {name}: {err}")
    hist = with_entities(oracles["q_historical_features"], "event_timestamp",
                         f"{input_dir}/backfill/entities.parquet")
    con.execute(f"CREATE TEMP TABLE exp_hist AS {hist}")
    for job in result["samples"]["jobs"]:
        attempted += 1
        src = parquet([job["training_set"]])
        err = "no data files" if src is None else compare(con, f"SELECT * FROM {src}", "SELECT * FROM exp_hist")
        if err:
            problems.append(f"job {job['job']} training_set: {err}")
    return attempted, len(problems) + sum(known.values()), known, problems


def check_stream(result, _input_dir):
    con = connect()
    out = result["outputs"]
    events_view(con, f"read_parquet('{out['landing']}/*.parquet')")
    problems = []
    err = compare(con, f"SELECT * FROM {parquet([out['bars']])}", result["oracles"]["q_ohlc_1m"])
    if err:
        problems.append(f"bars: {err}")
    # the raw sink must hold exactly the trades projection of every tick
    err = compare(con, f"SELECT * FROM {parquet([out['raw']])}",
                  trades_sql(result["oracles"]["q_ohlc_1m"]))
    if err:
        problems.append(f"raw: {err}")
    landed = len(result["samples"]["landed"])
    # every landed file is one ingest operation; a wrong table fails all
    failed = landed if problems else 0
    return landed, failed, dict.fromkeys(KNOWN_DEFECTS, 0), problems


def check_serve(result, input_dir):
    con = connect()
    s = result["samples"]
    # Every version's rows: initial slice k is version k + 1, then each
    # writer op adds the version it reported. A correction replaces the row
    # with the same event_id.
    parts = [(k + 1, f"{input_dir}/serve/slices/s{k:03d}/events.parquet")
             for k in range(s["initial_slices"])]
    with open(f"{input_dir}/serve/writer_ops.tsv") as f:
        op_dirs = [ln.rstrip("\n").split("\t")[1] for ln in f]
    problems, known = [], dict.fromkeys(KNOWN_DEFECTS, 0)
    for w in s["writes"]:
        if "error" in w:
            problems.append(f"writer op {w['op']} failed: {w['error']}")
            continue
        parts.append((w["version"], f"{op_dirs[w['op']]}/events.parquet"))
    con.execute("CREATE TABLE ev_all AS " + " UNION ALL ".join(
        f"SELECT {v} AS ver, * FROM read_parquet('{p}')" for v, p in parts))

    def at_version(v):
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * EXCLUDE (ver, rn) FROM ("
            "SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ver DESC) AS rn "
            f"FROM ev_all WHERE ver <= {v}) WHERE rn = 1")

    pit_sql = result["oracles"]["q_pit_snapshot"]
    hist_sql = result["oracles"]["q_historical_features"]
    reads = sorted(s["reads"], key=lambda r: r["version"])
    current = None
    for r in reads:
        if current != r["version"]:
            at_version(r["version"])
            current = r["version"]
        if r["kind"] == "pit":
            sql = pit_oracle(pit_sql, r["symbol"], r["as_of"])
            if "error" in r:
                prior = con.execute(
                    "SELECT count(*) FROM events WHERE CAST(user_id AS VARCHAR) = ? "
                    "AND CAST(ts AS TIMESTAMP) <= CAST(? AS TIMESTAMP)",
                    [r["symbol"], r["as_of"]]).fetchone()[0]
                if prior == 0 and "slice" in r["error"].lower():
                    known["pit_ewm_empty_slice"] += 1
                else:
                    problems.append(f"pit req {r['req']} failed: {r['error']}")
                continue
            err = rows_equal(con, r["rows"], sql)
            if err and pit_regime_tie(r["rows"], sql, con):
                known["regime_tie"] += 1
                continue
        else:
            if "error" in r:
                problems.append(f"hist req {r['req']} failed: {r['error']}")
                continue
            err = rows_equal(con, r["rows"], with_entities(hist_sql, "event_timestamp", r["entities"]))
        if err:
            problems.append(f"{r['kind']} req {r['req']} at v{r['version']}: {err}")
    # the table the writer leaves must equal the trades view of its last version
    t = result["outputs"]["table"]
    at_version(t["version"])
    err = compare(con, f"SELECT * FROM {parquet(t['dirs'])}", trades_sql(pit_sql))
    if err:
        problems.append(f"final table v{t['version']}: {err}")
    attempted = len(s["reads"]) + len(s["writes"])
    return attempted, sum(known.values()) + len(problems), known, problems


def check_registry(result, _input_dir):
    con = connect()
    s = result["samples"]
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{s['corpus']}/{t}.parquet')")
    problems = []
    for q in s["queries"]:
        if "error" in q:
            problems.append(f"{q['query']} failed: {q['error']}")
            continue
        sql = result["oracles"].get(q["query"])
        if sql is None:
            continue
        src = parquet([q["output"]])
        err = compare(con, f"SELECT * FROM {src}" if src else "SELECT 1 WHERE false", sql)
        if err:
            problems.append(f"{q['query']}: {err}")
    return len(s["queries"]), len(problems), dict.fromkeys(KNOWN_DEFECTS, 0), problems


CHECKS = dict(backfill=check_backfill, stream=check_stream, serve=check_serve,
              registry=check_registry)
