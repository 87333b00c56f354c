"""Correctness oracle for the benchmark's reference outputs.

The JVM writes each op's first output (out/ref/...) and the repo's own
oracle SQL for the queries it ran (out/oracle_sql.json). These functions
re-run that SQL in DuckDB over the same input files, or recompute a
curation stage from the input documents, and compare. Each returns
{op name: error message or None}.
"""
import hashlib
import json
import re
import sys
from pathlib import Path

import duckdb

# the repo's own comparison of query outputs with the DuckDB oracle
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from compare import frame_to_key  # noqa: E402

WIN_DAYS = 7


def _connect(data_dir, run_dir, table):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{run_dir}/duckdb-tmp'")
    con.execute(f"CREATE VIEW {table} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{table}.parquet')")
    return con


def _frame(con, sql):
    rows = con.execute(sql).fetchall()
    return frame_to_key([d[0] for d in con.description], rows)


def check_queries(data_dir, out_dir, run_dir):
    """Query outputs vs the repo's oracle SQL: same column names, same
    multiset of rows (the comparison of the repo's scripts/compare.py)."""
    con = _connect(data_dir, run_dir, "events")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    verdict = {}
    for name, sql in sorted(oracle.items()):
        try:
            sn, sd = _frame(con, f"SELECT * FROM read_parquet('{out_dir}/ref/{name}/*.parquet')")
            dn, dd = _frame(con, sql)
        except Exception as e:  # a missing output or an oracle error fails the query
            verdict[name] = f"error: {e}"
            continue
        if sn != dn:
            verdict[name] = f"columns {sn} != {dn}"
        elif len(sd) != len(dd):
            verdict[name] = f"rows {len(sd)} != {len(dd)}"
        elif sd != dd:
            first = next(i for i, (a, b) in enumerate(zip(sd, dd)) if a != b)
            verdict[name] = f"values differ: {sd[first]} != {dd[first]}"
        else:
            verdict[name] = None
    return verdict


def _stats_checksum(user_id, stats):
    born, target = stats
    per_user = sum(born[t] * (t + 1) + target[t] * (t + 11) for t in range(WIN_DAYS))
    return per_user * (user_id % 1000 + 1)


def check_retention(data_dir, out_dir, run_dir):
    """The three retention_bulk passes vs DuckDB: the triangle against the
    repo's retention_sum oracle, the per-user checksum against its
    retention_count oracle, and the control pass against built-in SQL."""
    con = _connect(data_dir, run_dir, "events")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    triangle = [list(r) for r in con.execute(oracle["retention_sum"]).fetchone()[0]]
    checksum = sum(_stats_checksum(u, json.loads(s))
                   for u, s in con.execute(oracle["retention_count"]).fetchall())
    window = ("ts >= TIMESTAMP '2024-01-01 00:00:00' AND "
              f"ts < TIMESTAMP '2024-01-01 00:00:00' + INTERVAL {WIN_DAYS} DAY")
    day = "date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))"
    control = con.execute(f"""
        WITH u AS (
          SELECT user_id,
            bit_or(CASE WHEN event_type = 'signup' THEN CAST(1 AS BIGINT) << {day} END) AS b,
            bit_or(CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) << {day} END) AS g
          FROM events WHERE {window} GROUP BY user_id)
        SELECT CAST(sum(b * (user_id % 1000 + 1)) AS BIGINT),
               CAST(sum(g * (user_id % 1000 + 1)) AS BIGINT), count(*) FROM u""").fetchone()
    verdict = {}
    for name in ("column", "sql"):
        path = Path(out_dir) / "ref" / f"{name}.json"
        if not path.exists():
            verdict[name] = "no reference output"
            continue
        got = json.loads(path.read_text())
        if got["triangle"] != triangle:
            verdict[name] = f"triangle {got['triangle']} != {triangle}"
        elif got["checksum"] != checksum:
            verdict[name] = f"per-user checksum {got['checksum']} != {checksum}"
        else:
            verdict[name] = None
    path = Path(out_dir) / "ref" / "control.json"
    got = json.loads(path.read_text()) if path.exists() else None
    want = {"born_sum": control[0], "target_sum": control[1], "users": control[2]}
    verdict["control"] = None if got == want else f"control {got} != {want}"
    return verdict


# The curation chain's parameters, as Workloads.scala calls the library.
SHINGLE_N, NEAR_THRESHOLD, DECON_K, EVAL_MOD = 3, 0.6, 4, 20
# Pairs this similar are found by 8 bands of 4 minhashes with probability
# above 1 - 2e-4 each, so the check may require every one of them.
RECALL_JACCARD = 0.9
TOKEN = re.compile(r"[a-zA-Z0-9']+")


def _hash60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(toks):
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def _curation_errors(text, ref, planted):
    """Each stage of the reference chain against the same stage
    recomputed here from the input texts: distinct texts for exact dedup,
    word-shingle Jaccard and components for near dedup, eval k-gram
    coverage for decontamination, doc sums for the manifest."""
    errs = []

    def need(ok, msg):
        if not ok:
            errs.append(msg)

    norm = {i: " ".join(t.lower().split()) for i, t in text.items()}
    toks = {i: TOKEN.findall(t) for i, t in norm.items()}
    gate = {i: n for i, n in ref["gate"]}
    exact = {r[0] for r in ref["exact"]}
    near = {r[0] for r in ref["neardup"]}
    decon = {i: n for i, n in ref["decon"]}
    split = {i: s for i, s in ref["split"]}
    need(gate.keys() <= text.keys(), "the gate output holds unknown doc ids")

    # exact dedup keeps the smallest id of each distinct text
    keep = {}
    for i in sorted(gate.keys() & text.keys()):
        keep.setdefault(norm[i], i)
    need(exact == set(keep.values()),
         f"dedup.exact kept {len(exact)} docs; {len(keep)} distinct texts passed the gate")
    for copy, src in planted["exact"]:
        need(src not in gate or copy not in exact,
             f"planted exact copy {copy} of {src} survived dedup.exact")

    # near dedup: verified pairs carry their true Jaccard; every pair at
    # RECALL_JACCARD or above is found; each component keeps its smallest id
    sh = {i: _shingles(toks[i]) for i in exact & text.keys()}
    pairs = {(a, b): j for a, b, j in ref["pairs"]}
    for (a, b), j in pairs.items():
        if a not in sh or b not in sh:
            errs.append(f"pair ({a}, {b}) is not between dedup.exact survivors")
            continue
        true = _jaccard(sh[a], sh[b])
        need(true >= NEAR_THRESHOLD and abs(true - j) < 1e-6,
             f"pair ({a}, {b}) reports Jaccard {j}, true {true:.6f}")
    by_shingle = {}
    for i in sorted(sh):
        for g in sh[i]:
            by_shingle.setdefault(g, []).append(i)
    close = {(a, b) for ids in by_shingle.values() for x, a in enumerate(ids)
             for b in ids[x + 1:]}
    for a, b in close:
        if (a, b) not in pairs and _jaccard(sh[a], sh[b]) >= RECALL_JACCARD:
            errs.append(f"pair ({a}, {b}) with Jaccard {_jaccard(sh[a], sh[b]):.3f} was missed")
    root = {i: i for i in sh}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        if a in root and b in root:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
    need(near == {i for i in sh if find(i) == i},
         f"near dedup kept {len(near)} docs; the verified pairs leave "
         f"{sum(1 for i in sh if find(i) == i)} components")
    for copy, src in planted["near"]:
        if copy in sh and src in sh and _jaccard(sh[copy], sh[src]) >= RECALL_JACCARD:
            need(find(copy) == find(src), f"planted near copy {copy} of {src} was not merged")

    # decontamination: a train doc loses the tokens covered by k-grams of
    # the gated eval slice
    grams = {tuple(toks[i][p:p + DECON_K]) for i in gate if i % EVAL_MOD == 0
             for p in range(len(toks[i]) - DECON_K + 1)}
    train_ids = {i for i in near if i % EVAL_MOD != 0}
    need(decon.keys() == train_ids,
         f"decontamination kept {len(decon)} docs; {len(train_ids)} train docs were left")
    for i in decon.keys() & train_ids:
        t, cov = toks[i], set()
        for p in range(len(t) - DECON_K + 1):
            if tuple(t[p:p + DECON_K]) in grams:
                cov.update(range(p, p + DECON_K))
        need(decon[i] == gate[i] - len(cov),
             f"doc {i} has {decon[i]} tokens after decontamination; "
             f"expected {gate[i]} - {len(cov)}")
    for doc, ev in planted["contaminated"]:
        need(doc not in decon or ev not in gate or decon[doc] < gate[doc],
             f"planted eval span of {ev} in doc {doc} was not excised")

    # split and manifest: every decontaminated doc gets one split; the
    # shards hold exactly the train docs, their tokens and their hashes
    need(split.keys() == decon.keys(), "the split does not cover the decontaminated docs")
    need(set(split.values()) <= {"train", "val", "test"}, "unknown split names")
    train = [i for i, s in split.items() if s == "train" and i in decon]
    m = ref["manifest"]
    need(sum(r[2] for r in m) == len(train),
         f"manifest holds {sum(r[2] for r in m)} docs; the train split has {len(train)}")
    need(sum(r[3] for r in m) == sum(decon[i] for i in train),
         "manifest token total differs from the train split's")
    need(sum(r[4] for r in m) % 10**18 == sum(_hash60(f"shard|{i}") for i in train) % 10**18,
         "manifest checksums differ from the train split's doc hashes")
    return errs


def check_curation(data_dir, out_dir, planted):
    """The first chain's stage outputs (out/ref/curation.json) against the
    input documents and what the generator planted in them."""
    path = Path(out_dir) / "ref" / "curation.json"
    if not path.exists():
        return {"chain": "no reference output"}
    text = dict(duckdb.sql("SELECT doc_id, text FROM "
                           f"read_parquet('{data_dir}/documents.parquet')").fetchall())
    errs = _curation_errors(text, json.loads(path.read_text()), planted)
    return {"chain": "; ".join(errs[:5]) + (f" (+{len(errs) - 5} more)" if len(errs) > 5 else "")
            if errs else None}
