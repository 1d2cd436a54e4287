"""Output checks and per-layer metrics for perfbench/run.py.

The checks run after the timed window and compare graft's outputs with
answers computed without graft:

- every workload: no op failed or went over the latency limit, and no
  persisted RDD was left after Pipeline.releaseCaches;
- hive_sql: every text of the deck returned rows, and every text's rows
  match its DuckDB oracle SQL over
  the same generated parquet, with tools/check.py's comparison rules
  (columns sorted by name, rows in order, floats compared exactly with
  NaN equal to NaN, decimals never equal to floats, dates equal to the
  midnight timestamp, everything else by value);
- corpus_dedup: recall of the planted near-duplicate clusters, every exact
  copy clustered with its original, no cluster joining unrelated docs, and
  the same row counts on every pass;
- ingest_merge: every fresh doc survives, every exact copy is suppressed,
  near-duplicate suppression reaches the recall floor, and each read-back
  aggregate equals the generator's own merge result.
"""
import datetime
import decimal
import json
import math

NEAR_RECALL_FLOOR = 0.85  # planted near-duplicates graft must find


# ---------------------------------------------------------------- hive_sql
def _canon(v):
    """One comparable form for a DuckDB value or a tagged harness value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("t", v)
    if isinstance(v, datetime.date):
        return ("t", datetime.datetime.combine(v, datetime.time()))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray)):
        return ("s", bytes(v).hex())
    if isinstance(v, list):
        return ("l", [_canon(x) for x in v])
    if isinstance(v, dict):
        if set(v) == {"dec"}:
            return ("d", v["dec"])
        if set(v) == {"ts"}:
            return ("t", datetime.datetime.fromisoformat(v["ts"].rstrip("Z")))
        if set(v) == {"bin"}:
            return ("s", v["bin"])
        if set(v) == {"struct"}:
            return ("l", [_canon(x) for x in v["struct"]])
        if set(v) == {"map"}:
            return ("m", [(_canon(k), _canon(x)) for k, x in v["map"]])
        if set(v) == {"key", "value"} and isinstance(v["key"], list):  # DuckDB MAP
            return ("m", [(_canon(k), _canon(x)) for k, x in zip(v["key"], v["value"])])
        return ("l", [_canon(x) for x in v.values()])  # DuckDB STRUCT
    return ("s", str(v))


def _same(a, b):
    if a is None or b is None:
        nan = lambda x: x is None or (x[0] == "n" and isinstance(x[1], float) and math.isnan(x[1]))
        return nan(a) and nan(b)
    if a[0] != b[0]:
        return False
    if a[0] == "n":
        if isinstance(a[1], float) and isinstance(b[1], float) and math.isnan(a[1]) and math.isnan(b[1]):
            return True
        return a[1] == b[1]
    if a[0] == "l":
        return len(a[1]) == len(b[1]) and all(_same(x, y) for x, y in zip(a[1], b[1]))
    if a[0] == "m":
        return len(a[1]) == len(b[1]) and all(_same(k1, k2) and _same(v1, v2)
                                              for (k1, v1), (k2, v2) in zip(a[1], b[1]))
    return a[1] == b[1]


def check_hive_sql(res, truth, data):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors, checked, rows_only = [], 0, 0
    never = sorted(set(res["check"]["texts"]) - set(res["check"]["results"]))
    if never:
        errors.append(f"{len(never)} texts never returned a result: {', '.join(never[:10])}")
    for name, r in sorted(res["check"]["results"].items()):
        if not r["oracle"]:
            rows_only += 1
            continue
        try:
            cur = con.execute(r["oracle"])
            ora_cols = [d[0] for d in cur.description]
            ora = cur.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle SQL failed: {str(e).splitlines()[0][:160]}")
            continue
        checked += 1
        if sorted(ora_cols) != sorted(r["cols"]):
            errors.append(f"{name}: columns graft={sorted(r['cols'])} oracle={sorted(ora_cols)}")
            continue
        if len(ora) != len(r["rows"]):
            errors.append(f"{name}: rows graft={len(r['rows'])} oracle={len(ora)}")
            continue
        gi = {c: i for i, c in enumerate(r["cols"])}
        oi = {c: i for i, c in enumerate(ora_cols)}
        bad = None
        for c in sorted(r["cols"]):
            for i, (g, o) in enumerate(zip(r["rows"], ora)):
                if not _same(_canon(g[gi[c]]), _canon(o[oi[c]])):
                    bad = (c, i, g[gi[c]], o[oi[c]])
                    break
            if bad:
                break
        if bad:
            errors.append(f"{name}: col={bad[0]} row={bad[1]} graft={bad[2]!r} oracle={bad[3]!r}")
    return errors, {"texts_checked": (checked, "count"), "texts_rows_only": (rows_only, "count")}


# ------------------------------------------------------------ corpus_dedup
def check_corpus_dedup(res, truth, data):
    errors = []
    counts = res["check"]["counts"]
    for i, c in enumerate(counts[1:], 1):
        if c != counts[0]:
            errors.append(f"pass {i} row counts {c} differ from pass 0 {counts[0]}")
    cid = {d: c for d, c in res["check"]["clusters"]}
    if len(cid) != truth["docs"]:
        errors.append(f"nearDupClusters returned {len(cid)} docs of {truth['docs']}")
    pairs = [(g[0], m) for g in truth["clusters"] for m in g[1:]]
    found = sum(cid.get(a) is not None and cid.get(a) == cid.get(b) for a, b in pairs)
    recall = found / len(pairs)
    if recall < NEAR_RECALL_FLOOR:
        errors.append(f"near-duplicate recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
    missed = [p for p in truth["exact"] if cid.get(p[0]) is None or cid.get(p[0]) != cid.get(p[1])]
    if missed:
        errors.append(f"{len(missed)} exact copies not clustered with their original, e.g. {missed[0]}")
    # a cluster may only join docs of one planted group
    group = {}
    for gi, g in enumerate(truth["clusters"] + truth["exact"]):
        for d in g:
            group[d] = gi
    members = {}
    for d, c in cid.items():
        members.setdefault(c, set()).add(group.get(d, ("single", d)))
    mixed = [c for c, gs in members.items() if len(gs) > 1]
    if mixed:
        errors.append(f"{len(mixed)} clusters join unrelated docs, e.g. cluster {mixed[0]}")
    n_passes = len(counts)
    return errors, {"dedup_recall": (recall, "ratio"),
                    "docs_per_s": (truth["docs"] * n_passes /
                                   sum(o["lat_s"] for o in res["ops"] if not o["failed"]), "docs/s")}


# ------------------------------------------------------------ ingest_merge
def check_ingest_merge(res, truth, data):
    import pyarrow.parquet as pq
    errors = []
    got = res["check"]
    planted = suppressed = 0
    for b, (kept, back) in enumerate(zip(got["survivors"], got["readback"])):
        t = truth["batches"][b]
        ids = set(pq.read_table(f"{data}/batches/docs_{b}.parquet", columns=["doc_id"])
                  .column(0).to_pylist())
        kept = set(kept)
        exact, near = set(t["exact"]), set(t["near"])
        fresh = ids - exact - near
        if not kept <= ids:
            errors.append(f"batch {b}: survivors outside the batch")
        if fresh - kept:
            errors.append(f"batch {b}: {len(fresh - kept)} fresh docs suppressed")
        if exact & kept:
            errors.append(f"batch {b}: {len(exact & kept)} exact copies survived")
        planted += len(exact) + len(near)
        suppressed += len(exact - kept) + len(near - kept)
        want = [[k, v[0], v[1]] for k, v in sorted(t["readback"].items())]
        if back != want:
            errors.append(f"batch {b}: read-back {back} != expected {want}")
    recall = suppressed / planted if planted else 0.0
    if recall < NEAR_RECALL_FLOOR:
        errors.append(f"duplicate suppression {recall:.3f} < {NEAR_RECALL_FLOOR}")
    n = len(got["survivors"])
    user = sum(t["user_bytes"] for t in truth["batches"][:n])
    lat = [o["lat_s"] for o in res["ops"] if not o["failed"]]
    return errors, {"dedup_recall": (recall, "ratio"),
                    "write_amp": (sum(got["bytes_written"]) / user if user else None, "B/B"),
                    "docs_per_s": (truth["batch_docs"] * n / sum(lat), "docs/s")}


def check(workload, res, truth, data):
    """{'errors': [...], 'metrics': {name: (value, unit)}} for one run."""
    fn = {"hive_sql": check_hive_sql, "corpus_dedup": check_corpus_dedup,
          "ingest_merge": check_ingest_merge}[workload]
    errors, metrics = fn(res, truth, data)
    failed = [o for o in res["ops"] if o["failed"]]
    if failed:
        errors.append(f"{len(failed)} of {len(res['ops'])} ops failed or went over the latency "
                      f"limit, e.g. op {failed[0]['id']} ({failed[0]['key']})")
    if res["rdds_left_max"] > 0:
        errors.append(f"{res['rdds_left_max']} persisted RDDs left after Pipeline.releaseCaches")
    return {"errors": errors, "metrics": metrics}


# --------------------------------------------------------------- per layer
PER_OP = ["sqlsurface.run_s", "catalyst.parse_s", "catalyst.analysis_s",
          "catalyst.optimization_s", "catalyst.planning_s", "catalyst.plans",
          "codegen.compiles", "codegen.compile_s", "builder.s", "builder.jobs",
          "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_only_s",
          "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_bytes",
          "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.bytes", "scan.bytes_read",
          "scan.files_read", "sink.bytes_written", "sink.records_written",
          "sink.files_written", "sink.commit_s"]


def _unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "B" if "bytes" in name else "count"


def self_times(spans_file):
    """Per span kind, its duration minus the time covered by its children."""
    spans = {}
    with open(spans_file) as f:
        for line in f:
            s = json.loads(line)
            spans[s["id"]] = s
    kids = {}
    for s in spans.values():
        if s["parent"] in spans:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for sid, s in spans.items():
        covered, last = 0, s["start_ms"]
        for a, b in sorted(kids.get(sid, [])):
            a, b = max(a, last), min(b, s["end_ms"])
            if b > a:
                covered += b - a
                last = b
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0, s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def per_layer(res, m):
    """The traced run's per-layer metrics, per op where they are sums."""
    lay = res["layers"]
    n = max(1.0, lay.get("ops", 1.0))
    out = {k: {"value": lay.get(k, 0.0) / n, "unit": _unit(k)} for k in PER_OP}
    out["exec.busy_frac"] = {"value": lay.get("exec.busy_frac", 0.0), "unit": "ratio"}
    out["functions.minhash_ns_per_doc"] = {"value": lay["functions.minhash_ns_per_doc"], "unit": "ns"}
    out["cache.bytes_stored"] = {"value": res["cache_bytes_stored"] / n, "unit": "B"}
    out["cache.rdds_left"] = {"value": res["rdds_left_max"], "unit": "count"}
    out["trace.op_p50_s"] = {"value": m["op_p50_s"], "unit": "s"}
    out["heap.peak_mb"] = {"value": res["peak_heap_mb"], "unit": "MB"}
    selft = self_times(res["spans_file"]) if "spans_file" in res else {}
    for kind in ("op", "build", "action", "job", "stage", "catalyst"):
        out[f"self.{kind}_s"] = {"value": selft.get(kind, 0.0) / n, "unit": "s"}
    return out
