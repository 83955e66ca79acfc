"""Seeded, single-threaded input generator for the benchmark.

Every input the engine sees is written here from `--seed` (streams are also
sized by the run length), so the same seed and length give byte-identical
files, and the engine receives only these files.

    python3 perfbench/gen.py --workload api_queries --seed 1 --out DIR

Tables follow the engine's own schemas (`events`, `customer`, `documents`,
see graft.sources.Tables and graft.streaming.EventsStream.schema).
"""
import argparse
import bisect
import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The engine's event types: its anomaly rules (error/signup), conditional
# aggregates (purchase/error/click/view) and alert probes key on these names.
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# Word vocabulary of the engine's documents test corpus (30 words, close to
# uniform there); near-duplicates carry the corpus's `dup` edit token.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
EPOCH = dt.datetime(1970, 1, 1)

# Traffic dimensions per workload. `warm` inputs are small copies with the
# same shape, used only to warm the JVM and Spark's code caches in set-up.
# The stream feeds `chunk_docs` documents every `interval_s` (the offered
# rate) for the run length; its corpus is sized to match. `unit_docs` is the
# one micro-batch timed at local[1] and local[n]. The store dimensions are
# the managed store's banding (`bands`) and bucket counts.
SIZES = {
    "api_queries": dict(events=20000, users=1000, zipf=1.1, ooo_share=0.05,
                        start="2024-01-01", span_days=30),
    "curation_stream": dict(standing=500, chunk_docs=15, interval_s=1.0,
                            unit_docs=100, bands=32,
                            band_buckets=4, id_buckets=4,
                            near_dup_share=0.1, min_words=10, max_words=99),
}
WARM_DOCS = 200
WARM_EVENTS = 2000
BENCH_CUT = 25  # CurationJob.run's default: ids below it are the eval set
OOO_MAX_S = 60.0  # out-of-order delay, inside the 2-minute watermark


def zipf_table(n, s):
    acc, out = 0.0, []
    for k in range(n):
        acc += 1.0 / (k + 1) ** s
        out.append(acc)
    return [x / acc for x in out]


def events(rng, n, users, zipf, ooo_share, start, gap_s):
    """`n` events in stream order: nominal times advance by exponential gaps
    of mean `gap_s`; an `ooo_share` of events carry a time up to 60 s older
    than their position, so they arrive out of order but never behind the
    2-minute watermark."""
    cdf = zipf_table(users, zipf)
    t = (dt.datetime.fromisoformat(start) - EPOCH).total_seconds()
    cols = {k: [] for k in ("event_id", "ts", "user_id", "event_type",
                            "value", "props")}
    for i in range(n):
        t += rng.expovariate(1.0 / gap_s)
        ts = t - rng.uniform(1.0, OOO_MAX_S) if rng.random() < ooo_share else t
        cols["event_id"].append(i)
        cols["ts"].append(int(ts * 1e6))
        cols["user_id"].append(bisect.bisect_left(cdf, rng.random()))
        cols["event_type"].append(rng.choice(EVENT_TYPES))
        cols["value"].append(round(rng.uniform(0.0, 250.0), 2))
        cols["props"].append('{"k": %d}' % rng.randrange(100))
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)],
                                pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2)
                               for _ in range(n)], pa.float64()),
        "c_mktsegment": pa.array([rng.choice(SEGMENTS) for _ in range(n)]),
    })


def documents(rng, n, near_dup_share, min_words, max_words):
    """`n` documents; a `near_dup_share` of them (never among the first 100)
    copy an earlier document with one to three word edits or a `dup` tail."""
    langs = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    texts = []
    for i in range(n):
        if i >= 100 and rng.random() < near_dup_share:
            words = texts[rng.randrange(i)].split(" ")
            for _ in range(rng.randint(1, 3)):
                if rng.random() < 0.5:
                    words.append("dup")
                else:
                    words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB)
                     for _ in range(rng.randint(min_words, max_words))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(langs, weights, k=n)),
        "source": pa.array(["src%d" % rng.randrange(20) for _ in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def generate(workload, seed, out, seconds):
    """Write the workload's inputs and its traffic dimensions (`dims.json`)
    under `out`. Each table draws from its own seeded stream."""
    dims = dict(SIZES[workload], bench_cut=BENCH_CUT)
    rng = lambda table: random.Random("%s/%d/%s" % (workload, seed, table))
    if workload == "api_queries":
        dims.update(event_types=EVENT_TYPES, ooo_max_s=OOO_MAX_S,
                    gap_s=dims["span_days"] * 86400.0 / dims["events"])
        ev = {k: dims[k] for k in ("users", "zipf", "ooo_share", "start",
                                   "gap_s")}
        write(events(rng("events"), dims["events"], **ev),
              f"{out}/events.parquet")
        write(events(rng("warm_events"), WARM_EVENTS, **ev),
              f"{out}/warm/events.parquet")
        write(customers(rng("customer"), dims["users"]),
              f"{out}/customer.parquet")
        write(customers(rng("warm_customer"), dims["users"]),
              f"{out}/warm/customer.parquet")
    else:
        chunks = math.ceil(seconds / dims["interval_s"])
        dims["docs"] = (BENCH_CUT + dims["standing"]
                        + max(chunks * dims["chunk_docs"], dims["unit_docs"]))
        doc = {k: dims[k] for k in ("near_dup_share", "min_words",
                                    "max_words")}
        write(documents(rng("documents"), dims["docs"], **doc),
              f"{out}/documents.parquet")
        write(documents(rng("warm_documents"), WARM_DOCS, **doc),
              f"{out}/warm/documents.parquet")
    warm = dict(dims, docs=WARM_DOCS, events=WARM_EVENTS,
                standing=WARM_DOCS // 2)
    for path, d in ((out, dims), (f"{out}/warm", warm)):
        with open(f"{path}/dims.json", "w") as f:
            json.dump(d, f, sort_keys=True)
    return dims


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.seconds)))


if __name__ == "__main__":
    main()
