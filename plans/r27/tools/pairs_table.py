"""Per seed, parent -> change for each end-to-end metric, the medians,
quartiles and how many pairs the change won.

    python3 pairs_table.py PARENT.jsonl[,MORE.jsonl] CHANGE.jsonl[,MORE.jsonl]

Comma-separated files are pooled (their seeds must not overlap). The
parent's quartiles are given two ways: inclusive (linear between the
order statistics) and exclusive, the method ``perfbench/compare.py``
uses; the exclusive spread is the wider on ten or twenty runs."""
import json, statistics, sys
METRICS = [("setup_s", "lower"), ("wall_s", "lower"), ("op_p50_s", "lower"),
           ("rows_per_s", "higher"), ("live_heap_mb", "lower")]
def load(ps):
    return [json.loads(l) for p in ps.split(",") for l in open(p) if l.strip()]
par, chg = load(sys.argv[1]), load(sys.argv[2])
def q(v, method="inclusive"):
    v = sorted(v); n = len(v)
    return statistics.quantiles(v, n=4, method=method) if n > 1 else [v[0]] * 3
for w in ["upsert", "query_mix"]:
    P = {r["seed"]: r for r in par if r["workload"] == w}
    C = {r["seed"]: r for r in chg if r["workload"] == w}
    seeds = sorted(set(P) & set(C))
    if not seeds:
        continue
    att = (sum(P[s]["attempted"] for s in seeds), sum(C[s]["attempted"] for s in seeds))
    fail = (sum(P[s]["failed"] for s in seeds), sum(C[s]["failed"] for s in seeds))
    ok = all(P[s]["correct"] and C[s]["correct"] for s in seeds)
    print(f"== {w}: ops attempted parent/change {att[0]}/{att[1]}, failed {fail[0]}/{fail[1]}, all outputs correct: {ok}")
    for m, better in METRICS:
        pv = [P[s]["end_to_end"][m] for s in seeds]
        cv = [C[s]["end_to_end"][m] for s in seeds]
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(pv, cv))
        fmt = (lambda x: f"{x:.4g}")
        print(f"  {m:<13} " + " ".join(f"{s}:{fmt(p)}->{fmt(c)}" for s, p, c in zip(seeds, pv, cv)))
        pq, cq, px = q(pv), q(cv), q(pv, "exclusive")
        d = (statistics.median(cv) - statistics.median(pv)) / statistics.median(pv) * 100
        print(f"                median {fmt(statistics.median(pv))} -> {fmt(statistics.median(cv))} ({d:+.1f}%); "
              f"parent q1..q3 {fmt(pq[0])}..{fmt(pq[2])} (spread {fmt(pq[2]-pq[0])}; "
              f"compare.py's {fmt(px[0])}..{fmt(px[2])}, spread {fmt(px[2]-px[0])}), "
              f"change q1..q3 {fmt(cq[0])}..{fmt(cq[2])}; change better in {wins}/{len(seeds)}")
