#!/usr/bin/env python3
"""Input generator for the GMALL warehouse benchmark.

One single-threaded process. It first stages every input of a run from
the seed (the part DIM table, the static order_info, and the sliced
topics with their warm-up slices), prints a digest of those inputs, and
then publishes the timed slices into the topic directories by atomic
rename on a fixed schedule that does not wait for the system under test:

    python3 perfbench/gen.py --workload gmall_paced --seed 1 --seconds 10 --work DIR

Publishing starts when the file DIR/go appears. The publish log
(DIR/run/publish.jsonl: slice, due and actual wall time) is written when
the last slice is out, and DIR/run/published marks the end.
"""
import argparse
import hashlib
import io
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, start of event time
FLUSH_US = 4_102_444_800_000_000  # 2100-01-01T00:00:00Z, the flush slice's event time
NEAR_COPY_OFFSET = 100_000  # near-copy doc id = original id + offset

# Measured on the sf0.1 tables the program's st* replays read (customer,
# part, orders, lineitem, events, documents); see the README, "Inputs".
N_CUSTOMER = 15_000  # customer keys 0..14999
N_PART = 20_000  # part keys 0..19999
N_BRAND = 25  # Brand#1..Brand#25, drawn uniformly per part
N_USER = 1_500  # distinct events.user_id
EVENTS_PER_ORDER = 2 / 3  # 100 000 events : 150 000 orders
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])  # 20 % each
ORDER_STATUS = np.array(["O", "F", "P"])  # uniform
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])  # uniform
# orders having 1, 2, ..., 17 lineitem rows (2 764 orders with none are left out)
LINES_PER_ORDER = np.array([11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818,
                            292, 93, 29, 10, 1, 2, 1], dtype=np.float64)
# document words and how often each occurs; a text has 10..100 words, uniform
DOC_WORDS = {"spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
             "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
             "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
             "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
             "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912, "key": 8893,
             "query": 8881, "a": 8877, "scan": 8863, "batch": 8829, "dup": 255}
DOC_WORDS_MIN, DOC_WORDS_MAX = 10, 100

# Stream shape, not measured: the replayed tables hold no arrival order.
DETAIL_SPREAD_S = 120  # a detail's event time is its order's +- this
EARLY_SHARE = 0.10  # share of details published one slice before their order

# Per-workload make-up. The timed part's rows scale with --seconds, so the
# same seed and run length give the same inputs, whatever the speed of the
# system.
WORKLOADS = {
    # a few large slices, all staged at once, one slice per trigger
    "gmall_backlog": dict(kind="gmall", s_per_slice=5, orders_per_slice=1350, warmups=1,
                          warm_orders=100, span_s=1800, rate=None, max_files=1),
    # many small slices published open-loop at `rate` slices/s, each trigger
    # takes every slice published so far
    "gmall_paced": dict(kind="gmall", slices_per_s=5, orders_per_slice=8, warmups=2, warm_orders=8,
                        span_s=1800, rate=5.0, max_files=0),
    # a document corpus in doc-id order, all staged at once, one slice per trigger
    "doc_ingest": dict(kind="docs", slices_per_s=0.8, docs_per_slice=4_000, warmups=3, warm_docs=200,
                       rate=None, max_files=1),
}


def ts_col(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us", tz="UTC"))


def part_table(rng):
    """The sf0.1 part table's keys, prices (900 + key mod 1000 / 10) and
    uniformly drawn brands."""
    pk = np.arange(N_PART, dtype=np.int64)
    return pa.table({
        "p_partkey": pk,
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, N_BRAND + 1, N_PART)]),
        "p_retailprice": 900 + (pk % 1000) / 10.0,
    })


def gmall_slices(rng, n_slices, orders_per_slice, span_s, retail, key0=0, slice0=0):
    """Orders, details and events for `n_slices` slices of `span_s` event
    time each, the first of them slice number `slice0` of the stream."""
    n_o = n_slices * orders_per_slice
    span_us = span_s * 1_000_000
    t0 = BASE_US + slice0 * span_us
    o_slice = np.repeat(np.arange(n_slices), orders_per_slice)
    o_ts = np.sort(t0 + o_slice * span_us + rng.integers(0, span_us, n_o))
    o_key = key0 + np.arange(1, n_o + 1, dtype=np.int64)
    n_lines = rng.choice(len(LINES_PER_ORDER), n_o, p=LINES_PER_ORDER / LINES_PER_ORDER.sum()) + 1
    d_order = np.repeat(np.arange(n_o), n_lines)
    n_d = len(d_order)
    d_line = (np.arange(n_d) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1).astype(np.int32)
    d_part = rng.integers(0, N_PART, n_d)
    qty = rng.integers(1, 51, n_d).astype(np.float64)
    ext = np.round(qty * retail[d_part], 2)  # TPC-H: quantity x retail price
    disc = np.round(rng.uniform(0, 0.10, n_d), 2)
    tax = np.round(rng.uniform(0, 0.08, n_d), 2)
    d_ts = o_ts[d_order] + rng.integers(-DETAIL_SPREAD_S, DETAIL_SPREAD_S + 1, n_d) * 1_000_000
    d_slice = o_slice[d_order].copy()
    early = (rng.random(n_d) < EARLY_SHARE) & (d_slice > 0)
    d_slice[early] -= 1
    total = np.zeros(n_o)
    np.add.at(total, d_order, np.round(ext * (1 + tax) * (1 - disc), 2))  # TPC-H o_totalprice
    orders = pa.table({
        "o_orderkey": o_key,
        "o_custkey": rng.integers(0, N_CUSTOMER, n_o),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n_o)),
        "o_totalprice": np.round(total, 2),
        "o_orderdate": ts_col(o_ts),
        "o_orderpriority": pa.array(rng.choice(ORDER_PRIORITY, n_o)),
    })
    details = pa.table({
        "l_orderkey": o_key[d_order],
        "l_partkey": d_part,
        "l_suppkey": (d_part % 1000).astype(np.int64),
        "l_linenumber": d_line,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_shipdate": ts_col(d_ts),
    })
    e_per_slice = int(round(orders_per_slice * EVENTS_PER_ORDER))
    e_slice = np.repeat(np.arange(n_slices), e_per_slice)
    e_ts = np.sort(t0 + e_slice * span_us + rng.integers(0, span_us, len(e_slice)))
    events = pa.table({
        "event_id": key0 * 4 + np.arange(1, len(e_slice) + 1, dtype=np.int64),
        "ts": ts_col(e_ts),
        "user_id": rng.integers(0, N_USER, len(e_slice)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, len(e_slice))),
        "value": np.round(rng.random(len(e_slice)) * 100, 2),
        "props": pa.array([f'{{"s":{s}}}' for s in e_slice]),
    })
    split = lambda t, idx: [t.filter(pa.array(idx == s)) for s in range(n_slices)]
    topics = {
        "orders": split(orders, o_slice),
        "details": split(details, d_slice),
        "events": split(events, e_slice),
    }
    return topics, orders


def doc_slices(rng, sizes):
    """Originals 0..n-1 and head-truncated near-copies of every 10th, in
    doc-id order, cut into slices of the given numbers of originals; the
    near-copies (the highest ids) fill out the last slice."""
    n_orig = sum(sizes)
    words = np.array(list(DOC_WORDS))
    p = np.array(list(DOC_WORDS.values()), dtype=np.float64)
    lengths = rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1, n_orig)
    toks = rng.choice(words, int(lengths.sum()), p=p / p.sum())
    ends = np.cumsum(lengths)
    texts = [" ".join(toks[e - n:e]) for n, e in zip(lengths, ends)]
    ids = list(range(n_orig))
    copies = [i for i in range(0, n_orig, 10)]
    ids += [i + NEAR_COPY_OFFSET for i in copies]
    texts += [" ".join(texts[i].split(" ")[5:]) for i in copies]
    table = pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(texts)})
    bounds = np.concatenate([[0], np.cumsum(sizes)[:-1], [len(ids)]])
    return {"docs": [table.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]}


def flush_rows(topic):
    """One sentinel row per topic: negative keys, event time 2100-01-01,
    so every watermark passes all real event time."""
    if topic == "orders":
        return pa.table({"o_orderkey": [-1], "o_custkey": [-1], "o_orderstatus": ["X"],
                         "o_totalprice": [0.0], "o_orderdate": ts_col([FLUSH_US]),
                         "o_orderpriority": ["X"]})
    if topic == "details":
        return pa.table({"l_orderkey": [-1], "l_partkey": [-1], "l_suppkey": [-1],
                         "l_linenumber": pa.array([-1], type=pa.int32()), "l_quantity": [0.0],
                         "l_extendedprice": [0.0], "l_discount": [0.0], "l_tax": [0.0],
                         "l_shipdate": ts_col([FLUSH_US])})
    if topic == "events":
        return pa.table({"event_id": [-1], "ts": ts_col([FLUSH_US]), "user_id": [-1],
                         "event_type": ["__sentinel"], "value": [0.0], "props": ["{}"]})
    return pa.table({"doc_id": pa.array([-1], type=pa.int64()), "text": ["x"]})


class Digest:
    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, name, table):
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        self.h.update(name.encode())
        self.h.update(sink.getvalue())


def write_topics(dest, topics, digest, mtime_ms):
    """Write slice i of every topic as DEST/<topic>/s<i>.parquet, then the
    flush slice; mtimes increase with i so the file source reads in order."""
    for t, slices in topics.items():
        os.makedirs(os.path.join(dest, t), exist_ok=True)
        for i, tbl in enumerate(slices + [flush_rows(t)]):
            digest.add(f"{t}/{i}", tbl)
            path = os.path.join(dest, t, f"s{i:05d}.parquet")
            pq.write_table(tbl, path)
            ns = (mtime_ms + 10 * i) * 1_000_000  # whole ms apart: the source orders by mtime
            os.utime(path, ns=(ns, ns))


def stage(args):
    """Stage the run's inputs: a few small warm-up slices, then the timed
    slices, then the flush slice, all one stream in event-time order."""
    spec = WORKLOADS[args.workload]
    warmups = spec["warmups"]
    rng = np.random.default_rng(args.seed)
    run = os.path.join(args.work, "run")
    static = os.path.join(args.work, "static")
    os.makedirs(static, exist_ok=True)
    digest = Digest()
    if spec["kind"] == "gmall":
        part = part_table(rng)
        digest.add("part", part)
        pq.write_table(part, os.path.join(static, "part.parquet"))
        retail = part.column("p_retailprice").to_numpy()
        if spec["rate"]:
            n_slices = max(1, int(round(args.seconds * spec["slices_per_s"])))
            per_slice = spec["orders_per_slice"]
        else:
            n_slices = max(2, int(round(args.seconds / spec["s_per_slice"])))
            per_slice = spec["orders_per_slice"]
        warm, warm_orders = gmall_slices(rng, warmups, spec["warm_orders"], spec["span_s"], retail)
        timed, timed_orders = gmall_slices(rng, n_slices, per_slice, spec["span_s"], retail,
                                           key0=warmups * spec["warm_orders"], slice0=warmups)
        topics = {t: warm[t] + timed[t] for t in warm}
        # the static order_info the allocation app looks totals up in
        orders = pa.concat_tables([warm_orders, timed_orders])
        digest.add("orders_static", orders)
        pq.write_table(orders, os.path.join(static, "orders.parquet"))
        apps = "ods_route,dwd_first_order,dws_wide_join,dws_allocation,ads_trademark,dau"
    else:
        n_slices = max(2, int(round(args.seconds * spec["slices_per_s"])))
        per_slice = spec["docs_per_slice"]
        assert warmups * spec["warm_docs"] + n_slices * per_slice < NEAR_COPY_OFFSET, \
            "corpus would alias near-copy ids"
        topics = doc_slices(rng, [spec["warm_docs"]] * warmups + [per_slice] * n_slices)
        apps = "doc_claims"
    write_topics(os.path.join(run, "staging"), topics, digest, int(time.time() * 1000))
    for t in topics:
        os.makedirs(os.path.join(run, "topics", t), exist_ok=True)
    manifest = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "kind": spec["kind"], "apps": apps, "topics": ",".join(topics),
        "max_files": spec["max_files"], "rate": spec["rate"] or 0,
        "warmups": warmups, "slices": n_slices,
        "rows": sum(tb.num_rows for sl in topics.values() for tb in sl[warmups:]),
        "digest": digest.h.hexdigest()}
    with open(os.path.join(args.work, "manifest.properties"), "w") as f:
        for k, v in manifest.items():
            f.write(f"{k}={v}\n")
    return manifest


def publish(args, manifest):
    """Open loop over the timed slices and the flush slice: slice k is due
    at go + k/rate (all at go for a backlog); a late publish never shifts
    the slices after it. The warm-up slices are the system's to publish."""
    run = os.path.join(args.work, "run")
    topics = manifest["topics"].split(",")
    first, n = manifest["warmups"], manifest["slices"] + 1
    rate = float(manifest["rate"])
    go = os.path.join(args.work, "go")
    while not os.path.exists(go):
        time.sleep(0.002)
    t0 = time.time()
    log = []
    for k in range(n):
        due = t0 + (k / rate if rate else 0.0)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"s{first + k:05d}.parquet"
        for t in topics:
            os.rename(os.path.join(run, "staging", t, name), os.path.join(run, "topics", t, name))
        log.append({"slice": first + k, "due": due, "actual": time.time(), "flush": k == n - 1})
    with open(os.path.join(run, "publish.jsonl"), "w") as f:
        for r in log:
            f.write(json.dumps(r) + "\n")
    tmp = os.path.join(run, ".published.tmp")
    open(tmp, "w").close()
    os.rename(tmp, os.path.join(run, "published"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--stage-only", action="store_true", help="stage, print the digest and exit")
    args = ap.parse_args()
    manifest = stage(args)
    print(f"@@staged digest={manifest['digest']} rows={manifest['rows']} slices={manifest['slices']}",
          flush=True)
    if not args.stage_only:
        publish(args, manifest)


if __name__ == "__main__":
    sys.exit(main())
