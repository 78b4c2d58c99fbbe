"""Correctness checks of one benchmark run (untimed).

- sweep: every query result the harness kept is compared with
  DuckDB running the query's `SparkEntry.oracleSql` statement over the
  same generated Parquet files, as an order-insensitive hash of the
  canonical rows (columns sorted by name, floats rounded to 9 places).
  The statement's `round(x, n)` rounds as Spark's does: half up on the
  value's shortest decimal form. DuckDB's own `round` works on the
  binary double, so a value that prints as an exact tie (35678.14515)
  would round the other way (35678.1451 against Spark's 35678.1452).
  An oracle hash is computed once per input directory and oracle
  statement: the cache key carries a digest of the statement's text.
  A query without an oracle statement must return rows, and the same
  rows on every execution of the run and on every run of the seed with
  the same program: that reference is keyed by the build's source stamp,
  so a changed program sets its own.
- medallion: the gold mart keeps the order-items grain, its
  per-payment-type sums equal the generator's, and the silver tables
  hold nulls exactly in the malformed cells the generator injected.

Every pass's outputs are checked. Each failed check is
reported as "<operation> [it<n>]: <what>", so one operation of one
pass counts once however many of its checks fail.
"""
import glob
import hashlib
import json
import math
import os
import re
import statistics

import duckdb
import pyarrow.parquet as pq

from datagen import OLIST_TYPED, PAYMENT_TYPES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
GOLD_COLS = {"boleto": "VALOR_BOLETO", "credit_card": "VALOR_CREDITO",
             "debit_card": "VALOR_DEBITO", "voucher": "VALOR_VOUCHER",
             "not_defined": "VALOR_NAO_DEFINIDO"}


_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
         "UINTEGER", "UBIGINT"}


def _canon(col, typ):
    """SQL for one column's canonical text: numbers that are whole print as
    integers, other numbers rounded to 9 places, timestamps as UTC wall
    time, float lists element-wise rounded."""
    c = f'"{col}"'
    if typ in _INTS:
        return f"CAST({c} AS VARCHAR)"
    if typ in ("FLOAT", "DOUBLE") or typ.startswith("DECIMAL"):
        return (f"CASE WHEN {c} = trunc({c}) AND abs({c}) < 9e15 "
                f"THEN CAST(CAST({c} AS HUGEINT) AS VARCHAR) "
                f"ELSE CAST(round(CAST({c} AS DOUBLE), 9) AS VARCHAR) END")
    if typ.startswith("TIMESTAMP"):
        return f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    if typ in ("FLOAT[]", "DOUBLE[]"):
        return f"CAST(list_transform({c}, e -> round(CAST(e AS DOUBLE), 9)) AS VARCHAR)"
    return f"CAST({c} AS VARCHAR)"


def result_hash(con, sql):
    """(row count, digest) of a query result, independent of row and column
    order: the sum of per-row hashes of the canonical cells, computed in
    DuckDB so large results stay cheap."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW _r AS {sql}")
    cols = sorted((r[0], r[1]) for r in con.execute("DESCRIBE _r").fetchall())
    cells = ", ".join(f"coalesce({_canon(n, t)}, chr(0))" for n, t in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(CAST(hash(concat_ws(chr(31), {cells})) AS HUGEINT)), 0) "
        f"FROM _r").fetchone()
    names = hashlib.sha256(",".join(n for n, _ in cols).encode()).hexdigest()[:16]
    return n, f"{names}:{h}"


ROUND_CALL = re.compile(r"\bround\s*\(", re.IGNORECASE)
ROUND_MACRO = ("CREATE MACRO round_half_up(x, n) AS CAST(round(CAST(CAST(CAST(x AS DOUBLE) "
               "AS VARCHAR) AS DECIMAL(38, 20)), n) AS DOUBLE)")


def _connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    con.execute(ROUND_MACRO)
    if data_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _spark_hash(con, d):
    return result_hash(con, f"SELECT * FROM read_parquet('{d}/*.parquet')")


def _digest(text):
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def check_queries(check_dir, data_dir, record, cache_root, program):
    os.makedirs(cache_root, exist_ok=True)
    cache_path = os.path.join(cache_root, os.path.basename(data_dir) + ".json")
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    con = _connect(data_dir)
    oracle = record["oracle"]
    wrong = []
    for name in sorted(record["queries"]):
        runs = [d for d in sorted(glob.glob(os.path.join(check_dir, "it*", name)))]
        if not runs:
            continue  # the query threw; the harness already counted it
        got = [_spark_hash(con, d) for d in runs]
        if name in oracle:
            sql = ROUND_CALL.sub("round_half_up(", oracle[name])
            key = f"{name}:oracle:{_digest(ROUND_MACRO + sql)}"
            if key not in cache:
                cache[key] = list(result_hash(con, sql))
            want = tuple(cache[key])
        else:
            want = tuple(cache.setdefault(f"{name}:program:{program}", list(got[0])))
        for d, g in zip(runs, got):
            it = os.path.basename(os.path.dirname(d))
            if g[0] == 0 and name not in oracle:
                wrong.append(f"{name} [{it}]: empty result and no oracle statement")
            elif g != want:
                wrong.append(f"{name} [{it}]: gave {g[0]} rows ({g[1]}), "
                             f"expected {want[0]} rows ({want[1]})")
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_path + ".tmp", cache_path)
    return wrong


def check_medallion(check_dir, facts):
    """Returns (wrong, misread cells per pass, as the median). A
    misread cell is a typed silver cell that is null where the generator
    injected no malformed value, or not null where it did."""
    wrong, misread = [], []
    for out in sorted(glob.glob(os.path.join(check_dir, "it*"))):
        w, m = _check_medallion_iteration(out, facts)
        it = os.path.basename(out)
        wrong += [f"{op} [{it}]:{what}" for op, what in (x.split(":", 1) for x in w)]
        misread.append(m)
    return wrong, statistics.median(misread) if misread else 0


def _check_medallion_iteration(out, facts):
    con = _connect()
    wrong = []
    gold = os.path.join(out, "gold", "olist", "vendas")
    if os.path.isdir(gold):
        sums = ", ".join(f"sum({c})" for c in GOLD_COLS.values())
        row = con.execute(f"SELECT count(*), {sums} FROM read_parquet('{gold}/*.parquet')").fetchone()
        if row[0] != facts["gold_rows"]:
            wrong.append(f"gold.run: {row[0]} gold rows, expected {facts['gold_rows']}")
        for ty, got in zip(GOLD_COLS, row[1:]):
            want = facts["gold_payment_sums"][ty]
            if got is None or not math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-6):
                wrong.append(f"gold.run: sum of {ty} is {got}, expected {want}")
    injected = {}
    for cell in facts["bad_cells"]:
        injected.setdefault(cell[0], set()).add(tuple(cell[1:]))
    misread = 0
    for table, (keys, typed) in OLIST_TYPED.items():
        d = os.path.join(out, "silver", "olist", table)
        if not os.path.isdir(d):
            continue  # the ingest threw; the harness already counted it
        t = pq.read_table(d, columns=keys + typed).to_pydict()
        rows = len(t[keys[0]])
        if rows != facts["rows"][table]:
            wrong.append(f"ingest.{table}: {rows} silver rows, expected {facts['rows'][table]}")
        nulls = {tuple(str(t[k][r]) for k in keys) + (c,)
                 for c in typed for r, v in enumerate(t[c]) if v is None}
        want = injected.get(table, set())
        misread += len(nulls ^ want)
        if nulls != want:
            wrong.append(f"ingest.{table}: {len(nulls - want)} unexpected nulls, "
                         f"{len(want - nulls)} malformed cells not null")
    return wrong, misread


def run(workload, check_dir, data_dir, facts, record, cache_root, program):
    """(wrong, misread cells); `program` is the build's source stamp."""
    if workload == "medallion":
        return check_medallion(check_dir, facts)
    return check_queries(check_dir, data_dir, record, cache_root, program), 0


def corrupt(workload, check_dir):
    """Drop one row from one kept result, as a broken program would."""
    if workload == "medallion":
        target = os.path.join(check_dir, "it1", "silver", "olist", "customers")
    else:
        candidates = sorted(d for d in glob.glob(os.path.join(check_dir, "it1", "*"))
                            if pq.read_table(d).num_rows > 0)
        target = candidates[0]
    t = pq.read_table(target)
    for f in glob.glob(os.path.join(target, "*.parquet")):
        os.remove(f)
    pq.write_table(t.slice(0, t.num_rows - 1), os.path.join(target, "part-0.parquet"))
