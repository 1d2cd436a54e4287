#!/usr/bin/env python3
"""Choose and vet the hive_sql deck from a measured run of the whole draw set.

    python3 perfbench/sweep.py --seed 1                 # run the draw set, then choose
    python3 perfbench/sweep.py --from <sweep.json>      # choose again from a saved run

The run is one traced JVM (`graftbench.Main ... all`) that makes two passes
over every text of the draw set in a fixed hash order, after the same
warm-up as a benchmark run. It takes about five minutes on 4 cores. The
texts (the warm-up texts left out, since they never run cold in a
benchmark run) are sorted by first-pass latency and cut into DECK_SIZE
strata of equal count; from each stratum the deck takes the text whose
compile share of its cold latency is nearest the stratum's. The
script prints the deck and compares it with the draw set on cold and warm
latency, compile share of op time, compiled classes and Spark jobs per
text.
"""
import argparse
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

DECK_SIZE = 16
WARMUP_TEXTS = {  # HiveSql.warmupTexts in Main.scala
    "q1_pricing_summary", "agg_basic", "win_ranking", "join_multiway"}


def measure(seed):
    cp, _ = run.build()
    data = os.path.join(run.WORK, "data", f"hive_sql-{seed}")
    if not os.path.isfile(os.path.join(data, "truth.json")):
        gen.generate("hive_sql", seed, data)
    res = run.run_jvm(cp, "hive_sql", seed, 1, 1, data, extra=("all",), setups=1, timeout=1800)
    jobs = {}
    with open(res["spans_file"]) as f:
        for line in f:
            s = json.loads(line)
            if s["kind"] == "job":
                jobs[s["op"]] = jobs.get(s["op"], 0) + 1
    for o in res["ops"]:
        o["jobs"] = jobs.get(o["id"], 0)
    out = os.path.join(run.WORK, "results", f"sweep-{seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"ops": res["ops"], "failed": [o["key"] for o in res["ops"] if o["failed"]]}, f)
    print(f"[sweep] saved {out}", file=sys.stderr)
    return out


def per_text(ops):
    """{text: {'cold': op, 'warm': op}} from a two-pass sweep."""
    t = {}
    for o in ops:
        t.setdefault(o["key"], {}).setdefault("warm" if "cold" in t.get(o["key"], {}) else "cold", o)
    return {k: v for k, v in t.items() if "warm" in v}


def summary(texts, rows):
    def q(xs):
        a, b, c = statistics.quantiles(xs, n=4)
        return f"{a:.2f} / {b:.2f} / {c:.2f}"
    cold = [rows[n]["cold"] for n in texts]
    warm = [rows[n]["warm"] for n in texts]
    share = lambda ops: sum(o["compile_s"] for o in ops) / sum(o["lat_s"] for o in ops)
    return [
        ("texts", str(len(texts))),
        ("cold latency s (p25 / p50 / p75)", q([o["lat_s"] for o in cold])),
        ("warm latency s (p25 / p50 / p75)", q([o["lat_s"] for o in warm])),
        ("cold latency s (mean)", f"{statistics.mean(o['lat_s'] for o in cold):.2f}"),
        ("compile share of cold op time", f"{share(cold):.3f}"),
        ("compile share of warm op time", f"{share(warm):.3f}"),
        ("classes compiled per text, cold (mean)", f"{statistics.mean(o['compiles'] for o in cold):.1f}"),
        ("classes compiled per text, warm (mean)", f"{statistics.mean(o['compiles'] for o in warm):.1f}"),
        ("Spark jobs per text (p25 / p50 / p75)", q([o["jobs"] for o in cold])),
    ]


def choose(path, size):
    with open(path) as f:
        sw = json.load(f)
    rows = per_text([o for o in sw["ops"] if not o["failed"]])
    cands = sorted((n for n in rows if n not in WARMUP_TEXTS), key=lambda n: rows[n]["cold"]["lat_s"])
    share = lambda ns: (sum(rows[n]["cold"]["compile_s"] for n in ns)
                        / sum(rows[n]["cold"]["lat_s"] for n in ns))
    deck = []
    for i in range(size):
        stratum = cands[i * len(cands) // size:(i + 1) * len(cands) // size]
        deck.append(min(stratum, key=lambda n: (abs(share([n]) - share(stratum)), n)))
    full, mine = summary(cands, rows), summary(deck, rows)
    print(f"| measure | draw set | deck |\n|---|---|---|")
    for (k, a), (_, b) in zip(full, mine):
        print(f"| {k} | {a} | {b} |")
    print("\ndeck (cold s, warm s, classes cold/warm, jobs):")
    for n in deck:
        c, w = rows[n]["cold"], rows[n]["warm"]
        print(f"  {n:<28} {c['lat_s']:6.2f} {w['lat_s']:6.2f} {c['compiles']:4d}/{w['compiles']:<4d} {c['jobs']}")
    if sw["failed"]:
        print(f"\nfailed in the sweep: {', '.join(sw['failed'])}")
    print("\nSeq(" + ", ".join(f'"{n}"' for n in deck) + ")")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--from", dest="path")
    ap.add_argument("--size", type=int, default=DECK_SIZE)
    a = ap.parse_args()
    choose(a.path or measure(a.seed), a.size)


if __name__ == "__main__":
    main()
