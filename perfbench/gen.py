#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything the program reads is written here, from ``--seed`` alone: the
star-schema tables the analytics endpoints scan, the events-shaped stream
micro-batches, the Zipf request schedule and the document-admission
batches. The same seed always gives byte-identical inputs.

Usage: gen.py --seed N --out DIR --workload NAME --seconds T --rate R

Layout under DIR:
  tables/<name>.parquet    star schema + events/documents (TESTDATA shapes)
  requests.json            serve_refresh: due offsets, endpoint ranks, limits
  stream/batch-NNNNN.parquet   ingest_live raw micro-batches (dups, late)
  clean/batch-NNNNN.parquet    the same batches minus re-deliveries
  admit/batch-NNNNN.parquet    corpus_admit admission batches
  manifest.json            counts and shares the harness checks against
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- shares and rates ----
# perfbench/README.md ("Input constants") gives each one's source, or says
# that it has none: only the Zipf exponent of endpoint popularity and the
# stream's batch interval (run.py) rest on a measurement; every other share
# and rate is a design choice, not the reference service's traffic.
#
# serve_refresh: Zipf exponent of endpoint popularity, inside the 0.64-0.83
# that Breslau et al. (INFOCOM 1999) measured over web proxy traces. A few
# hot endpoints take most requests while the tail still touches every one.
# Popularity rank r is endpoint r for every seed: the seed draws the request
# sequence, not which pages are hot, so every seed asks for the same mix.
ZIPF_ENDPOINTS = 0.8
# limits a client asks for: absent (default 10), a page, oversized (clamped
# to 100) -- every clampLimit branch but the rejecting one.
LIMITS = [None, 50, 500]
# requests per block of the same mix: 4 requests/s fill one block in the
# 6 s serving phase of a 10 s run.
REQUEST_BLOCK = 24
# ingest_live: share of re-delivered duplicates (at-least-once feed) and of
# out-of-order events (ts pulled back by up to 90 min, inside the 2 h
# watermark so no event is late enough to be dropped). Unverified.
DUP_SHARE = 0.10
LATE_SHARE = 0.10
LATE_MAX_MIN = 90
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_MIX = [0.35, 0.30, 0.20, 0.08, 0.07]
ZIPF_USERS = 1.2
# corpus_admit: near-dup variants, exact repeats, fresh documents. Unverified.
NEAR_SHARE = 0.30
EXACT_SHARE = 0.10
NEAR_EDIT = 0.04  # share of words replaced in a near-dup variant

EPOCH = dt.datetime(2024, 1, 1)
# star-schema scale factor: the sf0.001 shapes of the test data (6,000
# lineitem rows); query cost here is planning-bound, not data-bound
SCALE = 0.001
TABLES_SEED = 0x7AB1E5
# the serving endpoints (perfbench.Endpoints.names), by popularity rank
N_ENDPOINTS = 8

WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small customer query order group big "
    "filter vector stream index shard cache lease pool price asset loan repay "
    "close open margin interest supply borrow stable token chain block event "
    "ledger audit report daily hourly state snapshot rollup delta version "
    "replica leader follower commit abort retry timeout quota budget limit"
).split()


def zipf_probs(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def ts_col(values):
    return pa.array(values, type=pa.timestamp("us"))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- tables ---

def gen_tables(rng, out, scale):
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    t = os.path.join(out, "tables")

    write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{t}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{t}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{t}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{t}/supplier.parquet")
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["widget", "plate", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
    types = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
    write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), f"{t}/part.parquet")

    d0 = dt.datetime(1995, 1, 1)
    odays = rng.integers(0, (dt.datetime(2001, 8, 1) - d0).days + 1, n_ord)
    write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts_col([d0 + dt.timedelta(days=int(d)) for d in odays]),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW"][i] for i in rng.integers(0, 5, n_ord)],
    }), f"{t}/orders.parquet")

    n_line = 4 * n_ord
    lorder = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    write(pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts_col([d0 + dt.timedelta(days=int(d) + int(s)) for d, s in
                              zip(odays[lorder], rng.integers(1, 122, n_line))]),
    }), f"{t}/lineitem.parquet")

    n_ev = max(1000, int(1_000_000 * scale))
    write(events_table(rng, np.arange(n_ev),
                       np.sort(rng.uniform(0, 30 * 86400, n_ev)), n_cust),
          f"{t}/events.parquet")


def events_table(rng, ids, secs, n_users, tz=None):
    n = len(ids)
    users = rng.choice(n_users, n, p=zipf_probs(n_users, ZIPF_USERS))
    # permute user ids so the hottest user is not always id 0
    users = rng.permutation(n_users)[users]
    kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)
    ks = rng.integers(0, 100, n)
    chan = rng.integers(0, 3, n)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array([EPOCH + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                       type=pa.timestamp("us", tz=tz)),
        "user_id": pa.array(users, pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in kinds],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [json.dumps({"k": int(k), "ch": ["web", "app", "api"][c]})
                  for k, c in zip(ks, chan)],
    })


# -------------------------------------------------------------- workloads ---

def exact_counts(n, probs):
    """n items split by probs, rounded by largest remainder."""
    raw = np.asarray(probs) * n
    counts = np.floor(raw).astype(int)
    counts[np.argsort(counts - raw)[:n - counts.sum()]] += 1
    return counts


def gen_requests(rng, out, n_requests, n_endpoints, rate):
    """Requests in blocks of REQUEST_BLOCK, each holding the same
    (endpoint, limit) pairs -- Zipf-proportional endpoint counts, limits
    dealt in turn -- in a seeded order. A window of whole blocks asks for the
    same mix under every seed; the seed changes only the order.
    """
    counts = exact_counts(REQUEST_BLOCK, zipf_probs(n_endpoints, ZIPF_ENDPOINTS))
    block_ranks = np.repeat(np.arange(n_endpoints), counts)
    block_limits = np.arange(REQUEST_BLOCK) % len(LIMITS)
    ranks, limits = [], []
    while len(ranks) < n_requests:
        order = rng.permutation(REQUEST_BLOCK)
        ranks += block_ranks[order].tolist()
        limits += block_limits[order].tolist()
    ranks, limits = np.array(ranks[:n_requests]), limits[:n_requests]
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({
            "rate_per_s": rate,
            "rank": ranks.tolist(),
            "limit": [LIMITS[i] if LIMITS[i] is not None else -1 for i in limits],
        }, f)
    hot = np.bincount(ranks, minlength=n_endpoints).max() / n_requests
    return {"requests": n_requests, "hottest_share": round(float(hot), 4)}


def gen_stream(rng, out, n_batches, batch_events, n_users, batch_span_s, rate):
    """Micro-batches of new events plus re-deliveries of earlier ones.

    Batch b covers event time [b*span, (b+1)*span); a LATE_SHARE of its new
    events is pulled back by up to LATE_MAX_MIN minutes. DUP_SHARE of each
    batch's rows re-deliver events from the previous three batches.
    """
    next_id = 0
    history = []
    distinct = []
    for b in range(n_batches):
        n_new = batch_events - int(batch_events * DUP_SHARE) if b else batch_events
        secs = b * batch_span_s + np.sort(rng.uniform(0, batch_span_s, n_new))
        late = rng.random(n_new) < LATE_SHARE
        # no clamping at the epoch: equal (user, ts) views would make the
        # as-of price pick ambiguous
        secs = np.where(late, secs - rng.uniform(60, LATE_MAX_MIN * 60, n_new), secs)
        fresh = events_table(rng, np.arange(next_id, next_id + n_new), secs,
                             n_users, tz="UTC")
        next_id += n_new
        raw = fresh
        if b:
            pool = pa.concat_tables(history[-3:])
            pick = rng.choice(pool.num_rows, batch_events - n_new, replace=False)
            raw = pa.concat_tables([fresh, pool.take(pa.array(pick))])
            raw = raw.take(pa.array(rng.permutation(raw.num_rows)))
        history.append(fresh)
        write(raw, os.path.join(out, "stream", f"batch-{b:05d}.parquet"))
        write(fresh, os.path.join(out, "clean", f"batch-{b:05d}.parquet"))
        distinct.append(next_id)
    return {"batches": n_batches, "batch_events": batch_events, "rate_per_s": rate,
            "cum_distinct": distinct, "dup_share": DUP_SHARE,
            "late_share": LATE_SHARE}


def doc_text(rng, vocab_p, n_words):
    return " ".join(WORDS[i] for i in rng.choice(len(WORDS), n_words, p=vocab_p))


def docs_table(ids, texts, rng):
    langs = ["en", "en", "en", "fr", "de", "es", "zh"]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), len(ids))],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_corpus(rng, out, n_standing, n_batches, batch_docs):
    vocab_p = zipf_probs(len(WORDS), 0.6)
    texts = [doc_text(rng, vocab_p, int(n)) for n in rng.integers(30, 90, n_standing)]
    write(docs_table(np.arange(n_standing), texts, rng),
          os.path.join(out, "tables", "documents.parquet"))
    pool = list(texts)
    next_id = 1_000_000
    kinds_total = {"near": 0, "exact": 0, "fresh": 0}
    for b in range(n_batches):
        # the same composition in every batch, in a seeded order
        kinds = rng.permutation(np.repeat(np.arange(3), exact_counts(
            batch_docs, [NEAR_SHARE, EXACT_SHARE, 1 - NEAR_SHARE - EXACT_SHARE])))
        batch = []
        for k in kinds:
            if k == 0:
                words = pool[rng.integers(0, len(pool))].split()
                for i in np.flatnonzero(rng.random(len(words)) < NEAR_EDIT):
                    words[i] = WORDS[rng.integers(0, len(WORDS))]
                batch.append(" ".join(words))
                kinds_total["near"] += 1
            elif k == 1:
                batch.append(pool[rng.integers(0, len(pool))])
                kinds_total["exact"] += 1
            else:
                batch.append(doc_text(rng, vocab_p, int(rng.integers(30, 90))))
                kinds_total["fresh"] += 1
        write(docs_table(np.arange(next_id, next_id + batch_docs), batch, rng),
              os.path.join(out, "admit", f"batch-{b:05d}.parquet"))
        next_id += batch_docs
        pool.extend(batch)
    return {"standing": n_standing, "batches": n_batches,
            "batch_docs": batch_docs, "kinds": kinds_total}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    a = ap.parse_args()
    rng = np.random.default_rng([a.seed, 0x5EED])
    os.makedirs(a.out, exist_ok=True)
    man = {"seed": a.seed, "workload": a.workload, "scale": SCALE}
    if a.workload == "serve_refresh":
        # the star schema is the same for every seed, as a TPC-H dataset is
        # for its scale factor; the seed draws the traffic
        gen_tables(np.random.default_rng(TABLES_SEED), a.out, SCALE)
        # twice the window: the open loop never runs out of due requests
        man["serve"] = gen_requests(rng, a.out, int(2 * a.rate * a.seconds) + 1,
                                    N_ENDPOINTS, a.rate)
    elif a.workload == "ingest_live":
        man["stream"] = gen_stream(rng, a.out, int(2 * a.rate * a.seconds) + 2,
                                   200, 2000, 600.0, a.rate)
    elif a.workload == "corpus_admit":
        man["corpus"] = gen_corpus(rng, a.out, 600, 64, 20)
    else:
        raise SystemExit(f"unknown workload {a.workload}")
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(man, f)


if __name__ == "__main__":
    main()
