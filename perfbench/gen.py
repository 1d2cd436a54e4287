"""Seeded input generator for the graft benchmark.

Every table is drawn from one numpy Generator seeded with ``--seed``; the
same seed gives byte-identical parquet files. Each workload's ground truth
(planted clusters, expected merge results) is written beside its inputs as
``truth.json`` and is computed here, independently of graft.

    python3 perfbench/gen.py --workload corpus_dedup --seed 7 --out DIR
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# hive_sql: the fixture star schema at the size of the sf0.01 fixtures.
N_ORDERS, N_LINES, N_CUST, N_PART, N_SUPP = 15000, 60000, 1500, 2000, 100
N_EVENTS, N_USERS, N_DOCS, N_VECS = 10000, 150, 500, 500
FIXTURE_WORDS = ("join hash row batch scan column customer filter small slow "
                 "merge order vector line data table agg value key stream "
                 "window a spark part group big sort query fast the").split()

# corpus_dedup / ingest_merge
CORPUS_DOCS = 4000        # documents in the corpus / the initial dedup state
CLUSTERS = 100            # planted near-duplicate clusters in the corpus
CLUSTER_MEMBERS = (2, 5)  # edited copies per cluster (inclusive bounds)
EXACT_DUPS = 100          # byte-identical copies of corpus docs
SHORT_FRAC = 0.02         # share of docs with fewer than 3 words
VOCAB = 5000              # Zipf vocabulary size
EDIT_FRAC = 0.05          # words replaced in a near-duplicate copy
BATCHES = 40              # ingest batches generated (a run uses a prefix)
BATCH_DOCS = 400          # docs per ingest batch
BATCH_EXACT, BATCH_NEAR = 20, 20  # planted duplicates per batch
TARGET_ROWS = 20000       # rows of the merge target table
MERGE_UPD, MERGE_DEL, MERGE_INS = 200, 100, 100  # rows per merge batch
STATUSES = ("F", "O", "P")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def vocabulary(rng):
    """Distinct lowercase pseudo-words with Zipf(1.1) draw weights."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, size=int(rng.integers(2, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    return np.array(words), np.cumsum(p / p.sum())


def draw_text(rng, words, cdf, n):
    """`n` words drawn from the Zipf distribution whose CDF is `cdf`."""
    return " ".join(words[np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)])


def edit(rng, words, cdf, text):
    """A near-duplicate: replace EDIT_FRAC of the words (shingle Jaccard with
    the original stays well above graft's 0.5 threshold)."""
    toks = text.split(" ")
    k = max(1, int(len(toks) * EDIT_FRAC))
    new = draw_text(rng, words, cdf, k).split(" ")
    for i, w in zip(rng.choice(len(toks), size=k, replace=False), new):
        toks[i] = w
    return " ".join(toks)


def doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{int(i) % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_hive_sql(rng, out):
    """The ten fixture tables with the fixtures' column domains."""
    def ts(days_from, days_span, n, unit="D"):
        base = np.datetime64(days_from, "us")
        return base + rng.integers(0, days_span, size=n).astype(f"timedelta64[{unit}]")
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
          f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{out}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, N_CUST)]}),
          f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)}),
          f"{out}/supplier.parquet")
    adj = np.array(["small", "large", "red", "cold", "shiny", "blue", "green", "old"])
    noun = np.array(["widget", "bolt", "ring", "gear", "pipe", "valve", "nut", "panel"])
    write(pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, N_PART)], " "),
                              noun[rng.integers(0, 8, N_PART)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)}),
          f"{out}/part.parquet")
    write(pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": ts("1995-01-01", 2400, N_ORDERS),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)]}),
          f"{out}/orders.parquet")
    qty = rng.integers(1, 51, N_LINES).astype(np.float64)
    write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINES), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINES) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINES) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINES)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINES)],
        "l_shipdate": ts("1995-01-02", 2500, N_LINES)}),
          f"{out}/lineitem.parquet")
    order = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    write(pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + order.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}),
          f"{out}/events.parquet")
    fw = np.array(FIXTURE_WORDS)
    texts = [" ".join(fw[rng.integers(0, len(fw), int(rng.integers(10, 100)))])
             for _ in range(N_DOCS)]
    write(doc_table(np.arange(N_DOCS), texts, rng), f"{out}/documents.parquet")
    v = rng.normal(size=(N_VECS, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())}),
          f"{out}/embeddings.parquet")
    return {}


def corpus(rng, words, cdf, first_id, n):
    """`n` docs from `first_id`: fresh Zipf docs, planted near-duplicate
    clusters, exact copies and short docs. Returns (ids, texts, truth)."""
    ids, texts = [], []
    nid = first_id

    def add(t):
        nonlocal nid
        ids.append(nid)
        texts.append(t)
        nid += 1
        return nid - 1
    clusters, exact = [], []
    n_short = int(n * SHORT_FRAC)
    members = rng.integers(CLUSTER_MEMBERS[0], CLUSTER_MEMBERS[1] + 1, CLUSTERS)
    n_fresh = n - n_short - EXACT_DUPS - int(members.sum())
    for _ in range(n_fresh):
        add(draw_text(rng, words, cdf, int(rng.integers(40, 200))))
    bases = rng.choice(n_fresh, size=CLUSTERS + EXACT_DUPS, replace=False)
    for b, m in zip(bases[:CLUSTERS], members):
        clusters.append([ids[b]] + [add(edit(rng, words, cdf, texts[b])) for _ in range(m)])
    for b in bases[CLUSTERS:]:
        exact.append([ids[b], add(texts[b])])
    for _ in range(n_short):
        add(draw_text(rng, words, cdf, int(rng.integers(1, 3))))
    perm = rng.permutation(len(ids))  # dups do not sit beside their originals
    ids = [ids[i] for i in perm]
    texts = [texts[i] for i in perm]
    return ids, texts, {"clusters": clusters, "exact": exact}


def gen_corpus_dedup(rng, out):
    words, cdf = vocabulary(rng)
    ids, texts, truth = corpus(rng, words, cdf, 0, CORPUS_DOCS)
    write(doc_table(ids, texts, rng), f"{out}/documents.parquet")
    truth["docs"] = len(ids)
    truth["text_bytes"] = sum(len(t.encode()) for t in texts)
    return truth


def merge_apply(rows, upd, dele, ins):
    """cowMerge semantics: DELETE wins over UPDATE, then INSERT."""
    for k in dele:
        rows.pop(k, None)
    for k, price in upd:
        if k in rows:
            rows[k] = (rows[k][0], price)
    for k, st, price in ins:
        rows[k] = (st, price)


def readback(rows):
    """Per-status row count and price sum in cents."""
    agg = {}
    for st, price in rows.values():
        c, s = agg.get(st, (0, 0))
        agg[st] = (c + 1, s + int(round(price * 100)))
    return {st: [c, s] for st, (c, s) in sorted(agg.items())}


def gen_ingest_merge(rng, out):
    words, cdf = vocabulary(rng)
    ids, texts, _ = corpus(rng, words, cdf, 0, CORPUS_DOCS)
    write(doc_table(ids, texts, rng), f"{out}/corpus.parquet")
    keys = np.arange(TARGET_ROWS, dtype=np.int64)
    status = np.array(STATUSES)[rng.integers(0, 3, TARGET_ROWS)]
    cents = rng.integers(100000, 50000000, TARGET_ROWS)
    write(pa.table({"o_orderkey": keys, "o_orderstatus": status,
                    "o_totalprice": cents / 100}), f"{out}/target.parquet")
    rows = {int(k): (str(s), int(c) / 100) for k, s, c in zip(keys, status, cents)}
    known = list(zip(ids, texts))     # texts the dedup state holds
    next_doc, next_key = CORPUS_DOCS, TARGET_ROWS
    batches = []
    os.makedirs(f"{out}/batches", exist_ok=True)
    for b in range(BATCHES):
        bids, btexts, fresh, exact, near = [], [], [], [], []
        n_fresh = BATCH_DOCS - BATCH_EXACT - BATCH_NEAR
        for _ in range(n_fresh):
            t = draw_text(rng, words, cdf, int(rng.integers(40, 200)))
            bids.append(next_doc); btexts.append(t); fresh.append(next_doc); next_doc += 1
        # duplicates of docs that are already in the state: the corpus and
        # every earlier batch's survivors
        src = rng.choice(len(known), size=BATCH_EXACT + BATCH_NEAR, replace=False)
        for j, s in enumerate(src):
            t = known[s][1]
            # short docs carry no signature, so they can only dup exactly
            if j < BATCH_EXACT or len(t.split(" ")) < 3:
                exact.append(next_doc); btexts.append(t)
            else:
                near.append(next_doc); btexts.append(edit(rng, words, cdf, t))
            bids.append(next_doc); next_doc += 1
        perm = rng.permutation(len(bids))
        bids = [bids[i] for i in perm]
        btexts = [btexts[i] for i in perm]
        write(doc_table(bids, btexts, rng), f"{out}/batches/docs_{b}.parquet")
        fresh_set = set(fresh)
        known += [(i, t) for i, t in zip(bids, btexts) if i in fresh_set]
        pick = rng.choice(np.fromiter(rows, np.int64), size=MERGE_UPD + MERGE_DEL,
                          replace=False)
        upd = [(int(k), int(rng.integers(100000, 50000000)) / 100) for k in pick[:MERGE_UPD]]
        dele = [int(k) for k in pick[MERGE_UPD:]]
        dele += [int(k) for k in rng.choice(pick[:MERGE_UPD], size=10, replace=False)]
        ins = [(next_key + i, STATUSES[int(rng.integers(0, 3))],
                int(rng.integers(100000, 50000000)) / 100) for i in range(MERGE_INS)]
        next_key += MERGE_INS
        write(pa.table({"o_orderkey": pa.array([k for k, _ in upd], pa.int64()),
                        "u_price": [v for _, v in upd]}), f"{out}/batches/upd_{b}.parquet")
        write(pa.table({"o_orderkey": pa.array(dele, pa.int64())}),
              f"{out}/batches/del_{b}.parquet")
        write(pa.table({"o_orderkey": pa.array([k for k, _, _ in ins], pa.int64()),
                        "o_orderstatus": [s for _, s, _ in ins],
                        "o_totalprice": [v for _, _, v in ins]}),
              f"{out}/batches/ins_{b}.parquet")
        merge_apply(rows, upd, dele, ins)
        user_bytes = sum(os.path.getsize(f"{out}/batches/{k}_{b}.parquet")
                         for k in ("docs", "upd", "del", "ins"))
        batches.append({"fresh": len(fresh), "exact": exact, "near": near,
                        "readback": readback(rows), "user_bytes": user_bytes})
    return {"docs": CORPUS_DOCS, "batch_docs": BATCH_DOCS, "batches": batches}


GENERATORS = {"hive_sql": gen_hive_sql, "corpus_dedup": gen_corpus_dedup,
              "ingest_merge": gen_ingest_merge}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out` (created if needed)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, out)
    truth.update({"workload": workload, "seed": seed})
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
