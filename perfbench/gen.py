"""Seeded input generators for the graft benchmark.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. The program under test only ever sees these
files; it is never told the seed or the planted rates.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
JAN_1 = dt.datetime(2024, 1, 1)
US_PER_DAY = 86_400_000_000

# Word list of the repo's synthetic corpora (data-engineering jargon),
# widened so that unrelated documents rarely share 4-grams by accident.
BASE_WORDS = ("a the data spark query scan filter join group agg sort hash "
              "window row column table stream batch merge key value order "
              "line part customer vector fast slow big small").split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])

# Sizes of each workload's inputs. The counts are fixed; only the seed
# varies between runs, so two runs of one seed see identical files.
UBA_EVENTS, UBA_USERS = 100_000, 1_500
BULK_EVENTS, BULK_USERS = 2_000_000, 200_000
STREAM_EVENTS, STREAM_USERS = 80_000, 25_000
DOCS = 600
# planted duplicate structure of the document corpus (shares of docs)
EXACT_DUP_RATE, NEAR_DUP_RATE, CONTAM_RATE = 0.08, 0.08, 0.05


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _write_replay(events, path):
    """The events in time order as `user_id, event_type, ts (epoch us),
    event_id` lines, for the stream's generator. The table is already in
    (ts, event_id) order."""
    cols = [events.column(c).to_numpy() for c in ("user_id", "event_type", "event_id")]
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    with open(path, "w") as f:
        f.writelines(f"{u}\t{e}\t{t}\t{i}\n" for u, e, t, i in zip(cols[0], cols[1], ts, cols[2]))


def events_table(rng, n, users, days, zipf_s):
    """The testdata `events` schema. Activity per user follows a Zipf law
    with exponent `zipf_s` (0 = uniform); heavy users get random ids."""
    if zipf_s > 0:
        w = 1.0 / np.arange(1, users + 1) ** zipf_s
        rank = rng.choice(users, size=n, p=w / w.sum())
        user = rng.permutation(users)[rank]
    else:
        user = rng.integers(0, users, size=n)
    ts = np.sort(rng.integers(0, days * US_PER_DAY, size=n))
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.gamma(2.0, 25.0, size=n), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)])[
        rng.integers(0, 100, size=n)]
    base = np.datetime64(JAN_1, "us")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(base + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents_table(rng, n):
    """The testdata `documents` schema with duplicates planted at fixed
    counts: exact copies and near copies (about 5% of words replaced) of
    original documents only, so duplicate clusters are stars and the
    dedup work does not swing with the seed; and eval-span contamination
    of some originals. The eval slice is `doc_id % 20 == 0`, as in the
    chain. Returns the table and what was planted, as doc id pairs:
    exact and near copies (copy, source), contamination (doc, eval doc)."""
    vocab = np.array(BASE_WORDS + [f"{w}{s}" for w in BASE_WORDS
                                   for s in ("s", "ed", "er", "ing")])
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** 0.7
    wp /= wp.sum()
    n_exact, n_near = int(n * EXACT_DUP_RATE), int(n * NEAR_DUP_RATE)
    n_orig = n - n_exact - n_near
    docs = [list(vocab[rng.choice(len(vocab), size=int(rng.integers(15, 60)), p=wp)])
            for _ in range(n_orig)]
    evals = range(0, n_orig, 20)
    train = [i for i in range(n_orig) if i % 20 != 0]
    planted = {"exact": [], "near": [], "contaminated": []}
    for i in rng.choice(train, size=int(n * CONTAM_RATE), replace=False):
        e = evals[int(rng.integers(0, len(evals)))]
        planted["contaminated"].append([int(i), e])
        ev = docs[e]
        start = int(rng.integers(0, max(1, len(ev) - 12)))
        at = int(rng.integers(0, len(docs[i])))
        docs[i][at:at] = ev[start:start + 12]
    for src in rng.integers(0, n_orig, size=n_exact):
        planted["exact"].append([len(docs), int(src)])
        docs.append(list(docs[src]))
    for src in rng.integers(0, n_orig, size=n_near):
        planted["near"].append([len(docs), int(src)])
        near = list(docs[src])
        for j in np.nonzero(rng.random(len(near)) < 0.05)[0]:
            near[j] = vocab[rng.choice(len(vocab), p=wp)]
        docs.append(near)
    text = [" ".join(w) for w in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }), planted


def generate(workload, seed, out_dir):
    """Writes the workload's tables into `out_dir`. Returns their row
    counts by table name, and what the generator planted in them (for
    the correctness gate; the program under test never sees it)."""
    rng = np.random.default_rng([seed, 0x9A1F])
    if workload == "uba_dashboard":
        t = events_table(rng, UBA_EVENTS, UBA_USERS, days=30, zipf_s=0.0)
        _write(t, f"{out_dir}/events.parquet")
        return {"events": t.num_rows}, {}
    if workload in ("retention_bulk", "retention_stream"):
        # Jan 1-10: the 7-day retention window plus three days after it,
        # so the window filter drops rows and, in the stream, the
        # watermark passes the window end and state is evicted.
        n, users = ((BULK_EVENTS, BULK_USERS) if workload == "retention_bulk"
                    else (STREAM_EVENTS, STREAM_USERS))
        t = events_table(rng, n, users, days=10, zipf_s=1.0)
        _write(t, f"{out_dir}/events.parquet")
        if workload == "retention_stream":
            _write_replay(t, f"{out_dir}/replay.tsv")
        return {"events": t.num_rows}, {}
    if workload == "curation_chain":
        t, planted = documents_table(rng, DOCS)
        _write(t, f"{out_dir}/documents.parquet")
        return {"documents": t.num_rows}, planted
    raise ValueError(f"unknown workload {workload!r}")
