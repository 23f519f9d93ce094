"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, size, GEN_VERSION). A base unit
shaped like the repo's sf0.1 test data (ticker events over 30 days with
customer dims, a near-duplicate-bearing document corpus, unit-norm
labelled embeddings) is drawn from the seed and then scaled by key-offset
copies, as graft.BenchScale.stageSf1 stages its 10x tier:

- events/customer: user_id, event_id and c_custkey shift by a per-copy
  offset; seeded impute_fakes faults (chosen rows x factor) are applied
  after copying, so copies do not share their faults;
- documents: doc_id shifts per copy and the text goes through a per-copy
  seeded letter substitution, so each copy keeps the base unit's
  duplicate structure and no duplicates span copies;
- embeddings: vec_id shifts per copy and each copy applies a seeded
  signed permutation of the dimensions (an orthogonal map, so in-copy
  geometry is kept exactly).

Generated directories are cached under the cache root by
(GEN_VERSION, seed, size) and finished with a _GENERATED file that
records the row counts; a directory without it is regenerated.
"""
import json
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever the bytes generated for the same (seed, size) can change.
GEN_VERSION = 1

USER_OFF = 1_000_000_000
EVENT_OFF = 1_000_000_000_000
DOC_OFF = 1_000_000_000
DAYS = 30
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DIMS = 64


def _rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def base_events(seed, users, events):
    """One base unit of the ticker feed: `events` prints over `users`
    users x 5 event types (the tickers) across 30 days, ts-ordered."""
    r = _rng(seed, 1)
    ts = np.sort(r.integers(0, DAYS * 86_400_000_000, events)) + T0_US
    return {
        "ts": ts,
        "user_id": r.integers(0, users, events),
        "event_type": r.integers(0, len(EVENT_TYPES), events),
        "value": np.round(r.exponential(50.0, events), 2),
        "k": r.integers(0, 100, events),
    }


def feed(seed, users, events, copies, fault_frac=0.005):
    """The ticker feed at `copies` x the base unit: key-offset copies
    plus seeded impute_fakes faults. Returns columns in ts order."""
    b = base_events(seed, users, events)
    n = events * copies
    copy = np.repeat(np.arange(copies), events)
    order = np.argsort(np.tile(b["ts"], copies), kind="stable")
    cols = {
        "event_id": (np.tile(np.arange(events), copies)
                     + copy * EVENT_OFF)[order],
        "ts": np.tile(b["ts"], copies)[order],
        "user_id": (np.tile(b["user_id"], copies) + copy * USER_OFF)[order],
        "event_type": np.tile(b["event_type"], copies)[order],
        "value": np.tile(b["value"], copies)[order],
        "k": np.tile(b["k"], copies)[order],
    }
    # impute_fakes: chosen rows scaled by a chosen factor
    r = _rng(seed, 2, copies)
    hit = r.choice(n, int(n * fault_frac), replace=False)
    factor = r.choice(np.array([3.0, 5.0, 10.0]), len(hit))
    cols["value"] = cols["value"].copy()
    cols["value"][hit] = np.round(cols["value"][hit] * factor, 2)
    return cols


def events_table(cols, lo=0, hi=None, utc=False):
    sl = slice(lo, hi)
    tz = "UTC" if utc else None
    return pa.table({
        "event_id": pa.array(cols["event_id"][sl], pa.int64()),
        "ts": pa.array(cols["ts"][sl], pa.timestamp("us", tz=tz)),
        "user_id": pa.array(cols["user_id"][sl], pa.int64()),
        "event_type": pa.array(EVENT_TYPES[cols["event_type"][sl]]),
        "value": pa.array(cols["value"][sl], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in cols["k"][sl]]),
    })


def customer_table(seed, users, copies):
    """Customer dims: 10 customers per user id slot, key-offset per
    copy, so every ticker of every copy joins one customer."""
    r = _rng(seed, 3)
    n = users * 10
    keys = np.concatenate([np.arange(n) + i * USER_OFF
                           for i in range(copies)])
    nation = np.tile(r.integers(0, 25, n), copies)
    bal = np.tile(np.round(r.uniform(-999.99, 9999.99, n), 2), copies)
    seg = np.tile(r.integers(0, len(SEGMENTS), n), copies)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(nation, pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": pa.array(SEGMENTS[seg]),
    })


def base_documents(seed, docs):
    """Base corpus: random texts over the test-data vocabulary; ~5 % are
    an earlier text plus " dup" (near duplicates) and ~0.2 % are exact
    copies of an earlier text."""
    r = _rng(seed, 4)
    lens = r.integers(10, 101, docs)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), n)]) for n in lens]
    kind = r.random(docs)
    for i in range(1, docs):
        if kind[i] < 0.05:
            texts[i] = texts[r.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[r.integers(0, i)]
    langs = LANGS[r.choice(len(LANGS), docs, p=LANG_P)]
    return texts, langs


def letter_maps(seed, copies):
    """Copy 0 keeps the text; every other copy gets its own seeded
    permutation of the lowercase alphabet (pairwise distinct)."""
    az = string.ascii_lowercase
    maps, seen = [az], {az}
    r = _rng(seed, 5)
    while len(maps) < copies:
        m = "".join(r.permutation(list(az)))
        if m not in seen:
            seen.add(m)
            maps.append(m)
    return maps


def documents_table(seed, docs, copies):
    texts, langs = base_documents(seed, docs)
    ids, out, ls, srcs = [], [], [], []
    for i, m in enumerate(letter_maps(seed, copies)):
        tr = str.maketrans(string.ascii_lowercase, m)
        for j, t in enumerate(texts):
            ids.append(j + i * DOC_OFF)
            out.append(t.translate(tr))
            srcs.append(f"src{j % 20}")
        ls.extend(langs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out),
        "lang": pa.array(ls),
        "source": pa.array(srcs),
        "n_chars": pa.array([len(t) for t in out], pa.int64()),
    })


def embeddings_table(seed, vecs, copies):
    """Unit-norm 64-d float vectors around 10 weak label centroids;
    copy i > 0 applies its own seeded signed dimension permutation."""
    r = _rng(seed, 6)
    label = r.integers(0, 10, vecs)
    cent = r.normal(0, 0.6, (10, DIMS))
    x = r.normal(0, 1, (vecs, DIMS)) + cent[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    parts, ids = [], []
    for i in range(copies):
        if i == 0:
            y = x
        else:
            perm = r.permutation(DIMS)
            sign = r.choice(np.array([-1.0, 1.0], np.float32), DIMS)
            y = x[:, perm] * sign
        parts.append(y)
        ids.append(np.arange(vecs) + i * DOC_OFF)
    emb = np.concatenate(parts)
    return pa.table({
        "vec_id": pa.array(np.concatenate(ids), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(np.tile(label, copies), pa.int32()),
    })


def _finish(path, counts):
    with open(os.path.join(path, "_GENERATED"), "w") as f:
        json.dump({"gen_version": GEN_VERSION, "rows": counts}, f,
                  sort_keys=True)
    return counts


def _cached(root, name):
    """(path, recorded row counts or None) for one cached input dir."""
    path = os.path.join(root, f"v{GEN_VERSION}", name)
    marker = os.path.join(path, "_GENERATED")
    if os.path.exists(marker):
        with open(marker) as f:
            return path, json.load(f)["rows"]
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path, None


def ticker_dir(root, seed, size):
    """Batch ticker tables: events.parquet + customer.parquet."""
    path, rows = _cached(
        root, f"ticker-s{seed}-u{size['users']}-e{size['events']}"
              f"-c{size['copies']}")
    if rows is None:
        cols = feed(seed, size["users"], size["events"], size["copies"])
        ev = events_table(cols)
        cu = customer_table(seed, size["users"], size["copies"])
        pq.write_table(ev, os.path.join(path, "events.parquet"))
        pq.write_table(cu, os.path.join(path, "customer.parquet"))
        rows = _finish(path, {"events": ev.num_rows, "customer": cu.num_rows})
    return path, rows


def stream_dir(root, seed, size):
    """Stream input: the full feed as events.parquet (for the oracle)
    plus `slices` time-ordered slice files of equal time span under
    slices/, each holding its span's events in (ts, event_id) order."""
    n_sl = size["slices"]
    path, rows = _cached(
        root, f"stream-s{seed}-u{size['users']}-e{size['events']}"
              f"-c{size['copies']}-n{n_sl}")
    if rows is None:
        cols = feed(seed, size["users"], size["events"], size["copies"])
        ev = events_table(cols)
        pq.write_table(ev, os.path.join(path, "events.parquet"))
        os.makedirs(os.path.join(path, "slices"))
        span = DAYS * 86_400_000_000 // n_sl
        cuts = np.searchsorted(cols["ts"],
                               T0_US + span * np.arange(n_sl + 1))
        cuts[-1] = len(cols["ts"])
        per = []
        for i in range(n_sl):
            t = events_table(cols, cuts[i], cuts[i + 1], utc=True)
            pq.write_table(t, os.path.join(path, "slices",
                                           f"slice-{i:05d}.parquet"))
            per.append(t.num_rows)
        rows = _finish(path, {"events": ev.num_rows, "slices": per})
    return path, rows


def corpus_dir(root, seed, size):
    """Corpus tables: documents.parquet + embeddings.parquet."""
    path, rows = _cached(
        root, f"corpus-s{seed}-d{size['docs']}-v{size['vecs']}"
              f"-c{size['copies']}")
    if rows is None:
        docs = documents_table(seed, size["docs"], size["copies"])
        emb = embeddings_table(seed, size["vecs"], size["copies"])
        pq.write_table(docs, os.path.join(path, "documents.parquet"))
        pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
        rows = _finish(path, {"documents": docs.num_rows,
                              "embeddings": emb.num_rows})
    return path, rows
