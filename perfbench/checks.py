"""Output checks, run after the JVM exits (outside every timed region).

Each check returns {(pass index, operation name): error text} for the
operations whose output is wrong; an empty dict means every output matched.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    """Type-tolerant canonical text of one value: the comparison the oracle
    check has always used (numbers compare by value, -0.0 == 0.0, decimals
    by their normalized digits), so a hash of canonical rows is stable
    across Spark and DuckDB result types."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "n" + str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 63:
            return "n" + str(int(v))
        return "n" + repr(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "n" + str(int(v))
        return "d" + str(v.normalize())
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, dt.date):
        return "t" + dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return "r" + repr(v)


def result_hash(con, sql):
    """(row count, order-independent hash) of a query's result, columns
    taken in name order."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("|".join(_canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(",".join(names[i] for i in order).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def gate_suite(record, work, recorded, cache):
    """Each gate's parquet output against the DuckDB oracle run over the
    same sf0.1 tables, or against the hash recorded for it on the seed
    commit when the gate has no oracle SQL. `cache` maps a digest of
    (tables, oracle SQL) to its (rows, hash): the tables are read-only, so
    an oracle result never changes. Returns (errors, output rows per pass)."""
    check = record["check"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{check['sf_dir']}/{t}.parquet'")
    expected = {}
    for name, sql in check["oracle_sql"].items():
        key = hashlib.sha256(f"{check['sf_dir']}\n{sql}".encode()).hexdigest()
        if key not in cache:
            try:
                cache[key] = result_hash(con, sql)
            except Exception as e:  # an oracle that cannot run fails its gate
                expected[name] = ("oracle error", str(e)[:200])
                continue
        expected[name] = tuple(cache[key])
    errors, rows = {}, []
    for p, ps in enumerate(record["passes"]):
        n_rows = 0
        for op in ps["ops"]:
            name = op["name"]
            if op["error"]:
                continue
            got = result_hash(con, f"SELECT * FROM '{work}/gates/p{p}/{name}/*.parquet'")
            n_rows += got[0]
            want = expected.get(name) or (tuple(recorded[name]) if name in recorded else None)
            if want is None:
                errors[p, name] = "no oracle SQL and no recorded hash"
            elif tuple(want) != got:
                errors[p, name] = f"output (rows, hash) {got[0]}, {got[1][:12]} != expected {want[0]}, {str(want[1])[:12]}"
        rows.append(n_rows)
    return errors, rows


def corpus_dedup(passes, work, inputs):
    """Kept ids and their near-duplicate group, for each pass index given,
    against the planted truth."""
    with open(os.path.join(inputs, "corpus_truth.json")) as f:
        truth = sorted(f"{i},{'' if g is None else g}" for i, g in json.load(f)["kept"])
    errors = {}
    for p in passes:
        with open(os.path.join(work, f"corpus_p{p}.csv")) as f:
            got = sorted(f.read().splitlines())
        if got != truth:
            g, t = set(got), set(truth)
            errors[p, "corpus_dedup"] = (f"kept set differs: {len(g - t)} unexpected, "
                                  f"{len(t - g)} missing, e.g. {sorted(g ^ t)[:4]}")
    return errors


GOLD_SQL = """
WITH c AS (
  SELECT * FROM read_csv('{dir}/claims.csv', header = true, all_varchar = true)
  QUALIFY row_number() OVER (PARTITION BY claim_id ORDER BY updated_at DESC) = 1),
p AS (
  SELECT * FROM read_csv('{dir}/policies.csv', header = true, all_varchar = true)
  QUALIFY row_number() OVER (PARTITION BY policy_id ORDER BY updated_at DESC) = 1),
sc AS (
  SELECT upper(trim(policy_id)) AS policy_id, upper(trim(claim_type)) AS claim_type,
         upper(trim(claim_status)) AS claim_status,
         TRY_CAST(replace(claim_amount, ',', '') AS DECIMAL(12, 2)) AS claim_amount,
         TRY_CAST(replace(settlement_amount, ',', '') AS DECIMAL(12, 2)) AS settlement_amount,
         TRY_CAST(claim_date AS DATE) AS claim_date
  FROM c),
sp AS (SELECT upper(trim(policy_id)) AS policy_id, policy_type FROM p)
SELECT sc.claim_type, sc.claim_status, date_trunc('month', sc.claim_date) AS claim_month,
       count(*) AS n_claims,
       sum(claim_amount) AS total_claim_amount,
       avg(claim_amount) AS avg_claim_amount,
       min(claim_amount) AS min_claim_amount,
       max(claim_amount) AS max_claim_amount,
       sum(settlement_amount) AS total_settlement_amount,
       sum(settlement_amount) / sum(claim_amount) AS settlement_ratio,
       sum(CASE WHEN sc.claim_status = 'OPEN' THEN 1 ELSE 0 END) AS n_open
FROM sc LEFT JOIN sp ON sc.policy_id = sp.policy_id
GROUP BY ALL
"""

GOLD_EXACT = ["n_claims", "total_claim_amount", "min_claim_amount", "max_claim_amount",
              "total_settlement_amount", "n_open"]
GOLD_CLOSE = ["avg_claim_amount", "settlement_ratio"]


def _gold_rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    out = {}
    for r in cur.fetchall():
        row = dict(zip(names, r))
        month = row["claim_month"]
        key = (row["claim_type"], row["claim_status"],
               None if month is None else month.strftime("%Y-%m"))
        out[key] = row
    return out


def etl_pipeline(record, work, inputs):
    """Ingest counts and stored violations per rule against the generator's
    truth; the gold claims summary against DuckDB over the same CSVs."""
    with open(os.path.join(inputs, "etl_truth.json")) as f:
        truth = json.load(f)
    con = duckdb.connect()
    want_gold = _gold_rows(con, GOLD_SQL.format(dir=inputs))
    errors = {}
    for p, ps in enumerate(record["passes"]):
        if ps["ops"][0]["error"]:
            continue
        with open(os.path.join(work, f"etl_p{p}.json")) as f:
            got = json.load(f)
        problems = []
        ingests = {i["name"]: {k: i[k] for k in ("rows_read", "rows_written",
                                                 "duplicates_removed")}
                   for i in got["ingests"]}
        if ingests != truth["ingests"]:
            problems.append(f"ingest counts {ingests} != {truth['ingests']}")
        if got["failures"] != truth["violations"]:
            diff = {k: (got["failures"].get(k), truth["violations"].get(k))
                    for k in set(got["failures"]) | set(truth["violations"])
                    if got["failures"].get(k) != truth["violations"].get(k)}
            problems.append(f"stored violations (got, want) {diff}")
        files = ", ".join(f"'{f}'" for f in got["gold_claims_files"])
        have_gold = _gold_rows(con, f"SELECT * FROM read_parquet([{files}])")
        if set(have_gold) != set(want_gold):
            problems.append(f"gold groups differ: {len(set(have_gold) ^ set(want_gold))} keys")
        else:
            for k, w in want_gold.items():
                h = have_gold[k]
                bad = [c for c in GOLD_EXACT if _num(h[c]) != _num(w[c])] + \
                      [c for c in GOLD_CLOSE if not _close(h[c], w[c])]
                if bad:
                    problems.append(f"gold {k}: {[(c, h[c], w[c]) for c in bad]}")
                    break
        if problems:
            errors[p, "etl_pipeline"] = "; ".join(problems)[:600]
    return errors


def _num(v):
    return None if v is None else decimal.Decimal(str(v))


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
