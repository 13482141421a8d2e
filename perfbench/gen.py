"""Seeded input generator for the benchmark.

Writes `events`, `documents` and `embeddings` parquet in the testdata
schema (see TESTDATA.md), plus the per-tick / per-day batches the timed
loops feed in. The same seed always gives byte-identical tables.

Stated properties (recorded in the run's report):
  events     Zipf(`user_skew`) user ids, uniform event types, `days`
             days of history; one extra day per pit_serve tick.
  documents  tokens from the testdata vocabulary; `exact_dup_share` of
             the docs copy an earlier doc verbatim and `near_dup_share`
             copy one with `near_dup_edits` of its tokens replaced.
  embeddings 64-d float vectors around `clusters` centres; the same
             duplicate shares hold, a near copy adds small noise.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
DIM = 64
BASE = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000

# Sizes per workload. Each is small enough that set-up, the timed loop
# and the output checks of one run fit the harness's per-run budget on
# a 4-core box; the shapes (skew, duplicate shares, clusters) follow
# the full-size targets.
SIZES = {
    "pit_serve": dict(events=200_000, users=5_000, days=60, user_skew=1.1,
                      tick_events=3_000, ticks=2),
    "corpus_ingest": dict(docs=2_000, vecs=2_000, day_docs=200,
                          day_vecs=200, days=3, clusters=10),
}
DUPS = dict(exact_dup_share=0.05, near_dup_share=0.10, near_dup_edits=0.05)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)
    return os.path.getsize(path)


def zipf_users(rng, n, users, skew):
    """`n` user ids in [0, users) with P(rank r) proportional to r^-skew;
    ranks are shuffled onto ids so hot users are not the low ids."""
    p = 1.0 / np.arange(1, users + 1) ** skew
    p /= p.sum()
    ranks = rng.choice(users, size=n, p=p)
    return rng.permutation(users)[ranks].astype(np.int64)


def events_table(rng, first_id, n, users, skew, day0, ndays):
    ts = np.sort(rng.integers(day0 * DAY_US, (day0 + ndays) * DAY_US, size=n))
    base_us = (BASE - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts_us = (base_us + ts).astype("datetime64[us]")
    kinds = rng.integers(0, len(EVENT_TYPES), size=n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(zipf_users(rng, n, users, skew)),
        "event_type": pa.array([EVENT_TYPES[k] for k in kinds]),
        "value": pa.array(np.round(rng.gamma(2.0, 6.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def doc_texts(rng, n, prior):
    """`n` texts; a share copy (exactly or nearly) a doc from `prior`
    or from earlier in this list."""
    out = []
    for _ in range(n):
        pool = len(prior) + len(out)
        u = rng.random()
        if pool and u < DUPS["exact_dup_share"] + DUPS["near_dup_share"]:
            j = int(rng.integers(0, pool))
            src = prior[j] if j < len(prior) else out[j - len(prior)]
            if u < DUPS["exact_dup_share"]:
                out.append(src)
                continue
            toks = src.split()
            for i in np.nonzero(rng.random(len(toks)) < DUPS["near_dup_edits"])[0]:
                toks[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 90))
            out.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k)))
    return out


def documents_table(rng, first_id, n, prior):
    texts = doc_texts(rng, n, prior)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(LANGS, size=n, p=LANG_P))),
        "source": pa.array([f"src{i % 20}" for i in range(first_id, first_id + n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), texts


def vectors(rng, n, centres, prior):
    """Unit-ish vectors around `centres`; duplicate shares as for docs."""
    out = np.empty((n, DIM), dtype=np.float32)
    labels = np.empty(n, dtype=np.int32)
    for i in range(n):
        pool = len(prior) + i
        u = rng.random()
        if pool and u < DUPS["exact_dup_share"] + DUPS["near_dup_share"]:
            j = int(rng.integers(0, pool))
            src, lab = prior[j] if j < len(prior) else (out[j - len(prior)], labels[j - len(prior)])
            noise = 0.0 if u < DUPS["exact_dup_share"] else 0.01
            out[i] = src + rng.normal(0, noise, DIM)
            labels[i] = lab
        else:
            c = int(rng.integers(0, len(centres)))
            out[i] = centres[c] + rng.normal(0, 0.12, DIM)
            labels[i] = c
    return out, labels


def embeddings_table(first_id, vecs, labels):
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def centres(rng, k):
    c = rng.normal(0, 1, (k, DIM))
    return (c / np.linalg.norm(c, axis=1, keepdims=True) * 0.5).astype(np.float32)


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns a manifest dict
    (sizes, stated properties, bytes written)."""
    rng = np.random.default_rng(seed)
    s = SIZES[workload]
    nbytes = 0
    man = dict(workload=workload, seed=seed, sizes=s, dups=DUPS)
    if workload == "pit_serve":
        ev = events_table(rng, 0, s["events"], s["users"], s["user_skew"], 0, s["days"])
        nbytes += _write(ev, f"{out}/events.parquet")
        next_id = s["events"]
        man["tick_bytes"] = []
        for t in range(s["ticks"]):
            b = events_table(rng, next_id, s["tick_events"], s["users"],
                             s["user_skew"], s["days"] + t, 1)
            next_id += s["tick_events"]
            man["tick_bytes"].append(_write(b, f"{out}/ticks/tick_{t:04d}.parquet"))
    else:
        cs = centres(rng, s["clusters"])
        docs, texts = documents_table(rng, 0, s["docs"], [])
        nbytes += _write(docs, f"{out}/documents.parquet")
        vecs, labels = vectors(rng, s["vecs"], cs, [])
        nbytes += _write(embeddings_table(0, vecs, labels), f"{out}/embeddings.parquet")
        if workload == "corpus_ingest":
            man["day_bytes"] = []
            prior_v = [(v, l) for v, l in zip(vecs, labels)]
            did, vid = s["docs"], s["vecs"]
            for d in range(s["days"]):
                bd, bt = documents_table(rng, did, s["day_docs"], texts)
                texts = texts + bt
                did += s["day_docs"]
                nb = _write(bd, f"{out}/days/docs_{d:03d}.parquet")
                bv, bl = vectors(rng, s["day_vecs"], cs, prior_v)
                prior_v += list(zip(bv, bl))
                nb += _write(embeddings_table(vid, bv, bl), f"{out}/days/vecs_{d:03d}.parquet")
                man["day_bytes"].append(nb)
                vid += s["day_vecs"]
    man["input_bytes"] = nbytes
    return man
