"""Seeded input generators for the corpus_dedup and etl_pipeline workloads.

Each generator writes its input files plus a ground-truth JSON derived from
what it planted, never from running the engine. The same seed gives
byte-identical files; the engine only ever sees the files.
"""
import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

STOPWORDS = ["the", "of", "and", "to", "a", "in"]
CORPUS_DOCS = 8000         # base documents before planted copies and junk
VOCAB = 6000
ZIPF_S = 1.1
DOC_WORDS = (200, 400)
BOILERPLATE_WORDS = 40
BOILERPLATE_SHARE = 0.25
EXACT_GROUP_SHARE = 0.06   # base docs that get 1-3 cosmetic exact copies
NEAR_CLUSTER_SHARE = 0.06  # base docs that get 1-3 reworded near copies
NEAR_EDITS = (1, 3)        # word substitutions per near copy
JUNK_SHARE = 0.08          # extra documents built to fail the quality rules


def _vocabulary(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set(STOPWORDS)
    while len(words) < VOCAB - len(STOPWORDS):
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    vocab = np.array(STOPWORDS + words)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return vocab, p / p.sum()


def corpus(seed, out_dir, docs=CORPUS_DOCS):
    """corpus.parquet (doc_id, text, score) and corpus_truth.json."""
    rng = np.random.default_rng([seed, 1])
    vocab, p = _vocabulary(rng)
    words_of = vocab.tolist()
    word_len = np.array([len(w) for w in words_of])
    cdf = np.cumsum(p)
    boiler = [words_of[i] for i in rng.integers(len(STOPWORDS), VOCAB, size=BOILERPLATE_WORDS)]

    def draw(n):
        return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)

    # every base document clears the engine's quality rules by a margin
    # (>= 100 words, mean word length 3.5-9, >= 5 stopwords), so the
    # expected verdict never sits on a threshold
    lengths = rng.integers(*DOC_WORDS, size=docs)
    idx = draw(int(lengths.sum()))
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    with_boiler = rng.random(docs) < BOILERPLATE_SHARE
    bases = []
    for d in range(docs):
        w = idx[starts[d]:starts[d] + lengths[d]]
        while not (3.5 <= word_len[w].mean() <= 9.0 and (w < len(STOPWORDS)).sum() >= 5):
            w = draw(int(lengths[d]))
        words = [words_of[i] for i in w]
        bases.append(words + boiler if with_boiler[d] else words)

    texts, kinds = [], []   # kind: ("base",) ("exact", base) ("near", base) ("junk",)
    for words in bases:
        texts.append(" ".join(words))
        kinds.append(("base",))
    order = rng.permutation(docs)
    n_exact = int(docs * EXACT_GROUP_SHARE)
    n_near = int(docs * NEAR_CLUSTER_SHARE)
    for b in order[:n_exact]:
        for c in range(int(rng.integers(1, 4))):
            words = list(bases[b])
            # cosmetic changes the normalized fingerprint ignores
            if c == 0:
                words[0] = words[0].capitalize()
            elif c == 1:
                words[-1] = words[-1] + "!"
            else:
                words[len(words) // 2] = words[len(words) // 2].upper()
            texts.append(" ".join(words))
            kinds.append(("exact", int(b)))
    for b in order[n_exact:n_exact + n_near]:
        for _ in range(int(rng.integers(1, 4))):
            words = list(bases[b])
            for i in rng.choice(len(words), size=int(rng.integers(*NEAR_EDITS)), replace=False):
                w = words[i]
                while w == words[i]:
                    w = words_of[int(rng.integers(len(STOPWORDS), VOCAB))]
                words[i] = w
            texts.append(" ".join(words))
            kinds.append(("near", int(b)))
    for j in range(int(docs * JUNK_SHARE)):
        if j % 3 == 0:      # too short
            words = [words_of[i] for i in draw(int(rng.integers(5, 30)))]
        elif j % 3 == 1:    # symbol-heavy
            words = [words_of[i] if k % 3 else "###" for k, i in
                     enumerate(draw(int(rng.integers(*DOC_WORDS))))]
        else:               # boilerplate fragment only
            words = boiler + ["..."] * 8
        texts.append(" ".join(words))
        kinds.append(("junk",))

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1      # doc ids 1..n, shuffled
    scores = rng.permutation(n).astype(np.int64)       # distinct quality scores
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts),
                  "score": pa.array(scores)}),
        os.path.join(out_dir, "corpus.parquet"), compression="snappy")

    # expected result: exact groups keep their lowest id; junk fails the
    # quality filter; each near cluster keeps its highest-score member,
    # labelled with the cluster's lowest id
    groups = {}
    for i, k in enumerate(kinds):
        if k[0] in ("exact", "near"):
            groups.setdefault(k, [k[1]]).append(i)
    kept = {int(ids[i]): None for i, k in enumerate(kinds) if k[0] != "junk"}
    clusters = []
    for (kind, _), members in sorted(groups.items()):
        member_ids = [int(ids[i]) for i in members]
        for m in member_ids:
            del kept[m]
        if kind == "exact":
            kept[min(member_ids)] = None
        else:
            best = max(members, key=lambda i: (scores[i], -ids[i]))
            kept[int(ids[best])] = min(member_ids)
            clusters.append(sorted(member_ids))
    truth = {"rows": n, "kept": sorted([k, v] for k, v in kept.items()),
             "near_clusters": clusters,
             "exact_groups": sum(1 for k in groups if k[0] == "exact")}
    with open(os.path.join(out_dir, "corpus_truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


# ------------------------------------------------------------------ etl

CLAIM_COLS = ["claim_id", "policy_id", "customer_id", "claim_amount", "claim_date",
              "claim_type", "claim_status", "description", "adjuster_id",
              "settlement_amount", "settlement_date", "created_at", "updated_at"]
POLICY_COLS = ["policy_id", "customer_id", "policy_number", "policy_type",
               "premium_amount", "deductible_amount", "coverage_limit", "start_date",
               "end_date", "policy_status", "agent_id", "created_at", "updated_at"]
TYPES = ["AUTO", "HOME", "LIFE", "HEALTH", "BUSINESS"]
CLAIM_STATUSES = ["OPEN", "CLOSED", "PENDING", "REJECTED"]
POLICY_STATUSES = ["ACTIVE", "PENDING", "CANCELLED", "EXPIRED", "SUSPENDED"]
ETL_POLICIES = 24000
ETL_CLAIMS = 96000
AMEND_SHARE = 0.05        # rows re-sent later with a newer updated_at
DIRT_PER_RULE = 25        # planted rows per broken rule


def _claims_rules():
    """(rule name, predicate over a silver row) as InsuranceModels declares
    them; a predicate that is None (SQL NULL) counts as a violation."""
    def rng_(v, lo, hi):
        return None if v is None else lo <= v <= hi
    return [
        ("not_null_claim_id", lambda r: r["claim_id"] is not None),
        ("not_null_policy_id", lambda r: r["policy_id"] is not None),
        ("not_null_customer_id", lambda r: r["customer_id"] is not None),
        ("not_null_claim_amount", lambda r: r["claim_amount"] is not None),
        ("not_null_claim_date", lambda r: r["claim_date"] is not None),
        ("accepted_values_claim_type", lambda r: None if r["claim_type"] is None
         else r["claim_type"] in TYPES),
        ("accepted_values_claim_status", lambda r: None if r["claim_status"] is None
         else r["claim_status"] in CLAIM_STATUSES),
        ("pattern_claim_id", lambda r: None if r["claim_id"] is None
         else _matches(r["claim_id"], "CLM")),
        ("range_claim_amount", lambda r: rng_(r["claim_amount"], 0, 10000000)),
        ("settled_has_amount", lambda r: r["claim_status"] != "CLOSED"
         or r["settlement_amount"] is not None),
    ]


def _policies_rules():
    def rng_(v, lo, hi):
        return None if v is None else lo <= v <= hi

    def days(r):
        return (r["end_date"] - r["start_date"]).days
    return [
        ("not_null_policy_id", lambda r: r["policy_id"] is not None),
        ("not_null_customer_id", lambda r: r["customer_id"] is not None),
        ("not_null_premium_amount", lambda r: r["premium_amount"] is not None),
        ("accepted_values_policy_type", lambda r: r["policy_type"] in TYPES),
        ("accepted_values_policy_status", lambda r: r["policy_status"] in POLICY_STATUSES),
        ("pattern_policy_id", lambda r: None if r["policy_id"] is None
         else _matches(r["policy_id"], "POL")),
        ("pattern_agent_id", lambda r: None if r["agent_id"] is None
         else _matches(r["agent_id"], "AGT")),
        ("range_premium_amount", lambda r: rng_(r["premium_amount"], 100, 100000)),
        ("range_coverage_limit", lambda r: rng_(r["coverage_limit"], 1000, 10000000)),
        ("end_after_start", lambda r: r["end_date"] > r["start_date"]),
        ("deductible_ratio", lambda r: r["deductible_amount"] <= r["coverage_limit"] * 0.5),
        ("duration_start_date_end_date", lambda r: 30 <= days(r) <= 365 * 5),
    ]


def _matches(v, prefix):
    return v.startswith(prefix) and len(v) >= len(prefix) + 3 and v[len(prefix):].isdigit()


def _norm(v):
    return None if v is None else v.strip().upper()


def _violations(rows, rules, table):
    counts = {}
    for r in rows:
        for name, pred in rules:
            if pred(r) is not True:
                counts[f"{table}/{name}"] = counts.get(f"{table}/{name}", 0) + 1
    keys = {}
    for r in rows:
        keys[r["id_key"]] = keys.get(r["id_key"], 0) + 1
    uniq = sum(n for k, n in keys.items() if k is not None and n > 1)
    # NULL keys group together in the engine's groupBy, like any value
    uniq += keys.get(None, 0) if keys.get(None, 0) > 1 else 0
    if uniq:
        counts[f"{table}/unique_{'claim_id' if table == 'silver_claims' else 'policy_id'}"] = uniq
    return counts


def _latest(rows, key):
    """Ingest dedup: one row per raw key (NULL is one key), latest updated_at."""
    best = {}
    for r in rows:
        k = r[key]
        if k not in best or r["updated_at"] > best[k]["updated_at"]:
            best[k] = r
    return list(best.values())


_FORMAT = {float: "{:.2f}".format, dt.datetime: lambda v: v.isoformat(" "),
           dt.date: dt.date.isoformat, str: str, type(None): lambda v: ""}


def _write_csv(path, cols, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(cols)
        w.writerows([_FORMAT[type(r[c])](r[c]) for c in cols] for r in rows)


def etl(seed, out_dir, policies=ETL_POLICIES, claims=ETL_CLAIMS, dirt=DIRT_PER_RULE):
    """claims.csv and policies.csv in the reference's 13-column schemas,
    with amended re-sends and rows planted to break each quality rule, plus
    etl_truth.json: rows read, rows written and duplicates removed per
    entity, and the expected stored violations per (table, rule)."""
    rng = np.random.default_rng([seed, 2])
    t0 = dt.datetime(2024, 1, 1)
    d0 = dt.date(2023, 1, 1)

    def ts(n, max_days=300):
        secs = rng.integers(0, max_days * 86400, size=n).tolist()
        return [t0 + dt.timedelta(seconds=x) for x in secs]

    def days(n, lo, hi):
        return rng.integers(lo, hi, size=n).tolist()

    created = ts(policies)
    starts = [d0 + dt.timedelta(days=x) for x in days(policies, 0, 700)]
    pol = [{
        "policy_id": f"POL{i + 1:06d}", "customer_id": f"CUST{cust:06d}",
        "policy_number": f"PN-{i + 1:07d}", "policy_type": TYPES[ty],
        "premium_amount": prem / 100, "deductible_amount": ded * 100.0,
        "coverage_limit": cov * 1000.0, "start_date": start,
        "end_date": start + dt.timedelta(days=dur), "policy_status": POLICY_STATUSES[st],
        "agent_id": f"AGT{agent:04d}", "created_at": c, "updated_at": c}
        for i, (cust, ty, prem, ded, cov, start, dur, st, agent, c) in enumerate(zip(
            days(policies, 1, policies), days(policies, 0, 5), days(policies, 20000, 900000),
            days(policies, 1, 50), days(policies, 20, 2000), starts,
            days(policies, 90, 1500), days(policies, 0, 5), days(policies, 1, 999), created))]
    created = ts(claims)
    cdates = [d0 + dt.timedelta(days=x) for x in days(claims, 0, 700)]
    cla = []
    for i, (pid, cust, amt, ty, st, adj, cdate, c) in enumerate(zip(
            days(claims, 1, policies + 1), days(claims, 1, policies),
            days(claims, 10000, 5000000), days(claims, 0, 5), days(claims, 0, 4),
            days(claims, 1, 200), cdates, created)):
        status = CLAIM_STATUSES[st]
        closed = status == "CLOSED"
        cla.append({
            "claim_id": f"CLM{i + 1:07d}", "policy_id": f"POL{pid:06d}",
            "customer_id": f"CUST{cust:06d}", "claim_amount": amt / 100,
            "claim_date": cdate, "claim_type": TYPES[ty], "claim_status": status,
            "description": f"claim {i + 1} reported via {('web', 'phone', 'agent')[i % 3]}",
            "adjuster_id": f"ADJ{adj:04d}",
            "settlement_amount": round(amt / 100 * 0.8, 2) if closed else None,
            "settlement_date": cdate + dt.timedelta(days=30) if closed else None,
            "created_at": c, "updated_at": c})

    # rows planted to break exactly the rule named (each row is distinct)
    def plant(rows, breakers):
        picks = rng.permutation(len(rows))
        k = 0
        for fn in breakers:
            for _ in range(dirt):
                fn(rows[picks[k]])
                k += 1
        return picks[k:]

    def dup_pair(rows, key):
        def f(r):
            twin = dict(r)
            twin[key] = " " + r[key].lower() + " "     # same id after trim+upper
            twin["updated_at"] = r["updated_at"] + dt.timedelta(seconds=1)
            rows.append(twin)
        return f

    def setter(**kv):
        return lambda r: r.update(kv)

    claim_free = plant(cla, [
        setter(policy_id=None), setter(customer_id=None),
        setter(claim_amount=None), setter(claim_date=None),
        setter(claim_type="MARINE"), setter(claim_status="UNKNOWN"),
        lambda r: r.update(claim_id=r["claim_id"] + "X"),
        lambda r: r.update(claim_amount=-r["claim_amount"]),
        setter(claim_status="CLOSED", settlement_amount=None, settlement_date=None),
        dup_pair(cla, "claim_id")])
    cla[int(claim_free[0])]["claim_id"] = None    # the one NULL key
    pol_free = plant(pol, [
        setter(customer_id=None), setter(premium_amount=None),
        setter(policy_type="MARINE"), setter(policy_status="DORMANT"),
        lambda r: r.update(policy_id=r["policy_id"] + "Z"),
        setter(agent_id="AG12"), setter(premium_amount=50.0),
        lambda r: r.update(coverage_limit=500.0, deductible_amount=100.0),
        lambda r: r.update(end_date=r["start_date"] - dt.timedelta(days=10)),
        lambda r: r.update(deductible_amount=r["coverage_limit"] * 0.75),
        lambda r: r.update(end_date=r["start_date"] + dt.timedelta(days=10)),
        dup_pair(pol, "policy_id")])
    pol[int(pol_free[0])]["policy_id"] = None

    # amended re-sends: same key, newer updated_at, changed payload
    def amend(rows, free, change):
        out = []
        for i in free[1:1 + int(len(rows) * AMEND_SHARE)]:
            r = dict(rows[int(i)])
            change(r)
            r["updated_at"] = r["updated_at"] + dt.timedelta(days=int(rng.integers(1, 30)))
            out.append(r)
        return out

    def claim_change(r):
        r["claim_status"] = "CLOSED"
        r["settlement_amount"] = round(r["claim_amount"] * 0.9, 2)
        r["settlement_date"] = r["claim_date"] + dt.timedelta(days=45)
    claims_all = cla + amend(cla, claim_free, claim_change)
    policies_all = pol + amend(pol, pol_free, lambda r: r.update(policy_status="EXPIRED"))
    order_c = rng.permutation(len(claims_all))
    order_p = rng.permutation(len(policies_all))
    claims_all = [claims_all[i] for i in order_c]
    policies_all = [policies_all[i] for i in order_p]

    os.makedirs(out_dir, exist_ok=True)
    _write_csv(os.path.join(out_dir, "claims.csv"), CLAIM_COLS, claims_all)
    _write_csv(os.path.join(out_dir, "policies.csv"), POLICY_COLS, policies_all)

    def silver(rows, id_col, id_cols, enum_cols):
        out = []
        for r in rows:
            s = dict(r)
            for c in id_cols + enum_cols:
                s[c] = _norm(s[c])
            s["id_key"] = s[id_col]
            out.append(s)
        return out
    c_written = _latest(claims_all, "claim_id")
    p_written = _latest(policies_all, "policy_id")
    s_claims = silver(c_written, "claim_id", ["claim_id", "policy_id", "customer_id",
                                              "adjuster_id"], ["claim_type", "claim_status"])
    s_pols = silver(p_written, "policy_id", ["policy_id", "customer_id", "agent_id"],
                    ["policy_type", "policy_status"])
    violations = _violations(s_claims, _claims_rules(), "silver_claims")
    violations.update(_violations(s_pols, _policies_rules(), "silver_policies"))
    truth = {
        "ingests": {
            "claims": {"rows_read": len(claims_all), "rows_written": len(c_written),
                       "duplicates_removed": len(claims_all) - len(c_written)},
            "policies": {"rows_read": len(policies_all), "rows_written": len(p_written),
                         "duplicates_removed": len(policies_all) - len(p_written)}},
        "violations": violations,
    }
    with open(os.path.join(out_dir, "etl_truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
