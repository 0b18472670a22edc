"""Pure logic of the graft benchmark: seeded inputs, percentiles, span self
time and the steadiness / comparison rules. No I/O here,
so tests/test_benchlib.py can pin every rule."""
import bisect
import json
import math
import random
import statistics

# ---------------------------------------------------------------- percentiles

PERCENTILES = (50, 75, 80, 90, 95, 99, 99.9)
MIN_BEYOND = 10


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - math.ceil(p * n / 100.0)


def highest_supported_percentile(n, candidates=PERCENTILES):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median lacks them."""
    ok = [p for p in candidates if beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def min_samples_for(p):
    """Smallest sample count that supports the p-th percentile."""
    n = 1
    while beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, p):
    """Nearest-rank percentile; failures enter as math.inf."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p * len(s) / 100.0) - 1)]


# ---------------------------------------------------------------- seeded inputs

def rng_for(workload, seed):
    # str seeds hash through sha512: stable across processes and versions
    return random.Random(f"{workload}:{seed}")


def batch_order(workload, seed, queries, passes):
    """`passes` timed pass orders: each a seeded permutation of the
    workload's fixed query list."""
    rng = rng_for(workload, seed)
    qs = sorted(queries)
    return [rng.sample(qs, len(qs)) for _ in range(passes)]


FEATURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def upload_body(rng, rows):
    """CSV body of `rows` feature rows over lineitem's value domains."""
    lines = [",".join(FEATURES)]
    for _ in range(rows):
        lines.append(",".join((
            str(rng.randint(1, 50)),
            f"{rng.uniform(900.0, 105000.0):.2f}",
            f"{rng.randint(0, 10) / 100:.2f}",
            f"{rng.randint(0, 8) / 100:.2f}")))
    return "\n".join(lines) + "\n"


def serve_stream(seed, n, *, smoke_share, fresh_share, zipf_s, rows,
                 reuse_gap):
    """The serve_mixed request stream for one seed: n /predict requests in
    the order the clients send them, and when the /train goes out.

    A fixed share of the requests are smoke requests. An upload sends a new
    body while fewer than `fresh_share` of the uploads so far were new, or
    when no body was first sent at least `reuse_gap` requests earlier;
    otherwise it re-sends an earlier body, drawn with Zipf skew over bodies
    in order of first send. The gap keeps a re-send from going out while
    the first answer is still being computed, so a re-send hits the
    response cache unless the /train has cleared it since. Fixing these
    shares keeps the hit/miss mix, and so the latency percentiles, steady
    from seed to seed. The /train goes out at a seeded point between 35%
    and 45% of the run.
    """
    rng = rng_for("serve_mixed", seed)
    n_smoke = round(n * smoke_share)
    kinds = ["smoke"] * n_smoke + ["upload"] * (n - n_smoke)
    rng.shuffle(kinds)
    bodies, first_sent, reqs, uploads = [], [], [], 0
    cum = [0.0]  # cum[k]: Zipf weight of the first k bodies
    for i, kind in enumerate(kinds):
        if kind == "smoke":
            reqs.append({"kind": "smoke"})
            continue
        uploads += 1
        eligible = bisect.bisect_right(first_sent, i - reuse_gap)
        if eligible == 0 or len(bodies) < round(fresh_share * uploads):
            bodies.append(upload_body(rng, rng.randint(rows[0], rows[1])))
            first_sent.append(i)
            cum.append(cum[-1] + 1.0 / len(bodies) ** zipf_s)
            body = len(bodies) - 1
        else:
            u = rng.random() * cum[eligible]
            body = min(bisect.bisect_right(cum, u, 0, eligible + 1) - 1,
                       eligible - 1)
        reqs.append({"kind": "upload", "body": body})
    return {"requests": reqs, "bodies": bodies,
            "train_at": round(0.35 + 0.1 * rng.random(), 6)}


def stream_bytes(stream):
    """Canonical bytes of a request stream (for the determinism check)."""
    return json.dumps(stream, sort_keys=True, separators=(",", ":")).encode()


# ---------------------------------------------------------------- spans

def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its child spans (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    """name -> list of self times (seconds), one per span."""
    st = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(st[s["id"]])
    return by


# ---------------------------------------------------------------- statistics

def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def compare(parent, change, better, bound, can_gain=True):
    """Verdict for one metric on one workload, from paired runs.

    parent, change: equal-length lists of values, run i of each side paired.
    A gain needs the change to win at least 9/10 of the pairs (ties count
    for neither side) and the medians to differ by more than the parent's
    interquartile distance. A regression is a median worse by more than
    `bound`. When the parent's spread exceeds the bound the metric is
    unresolved, unless every change run beats every parent run. With
    `can_gain` false (the change completed fewer runs than its parent, or
    there are fewer than ten pairs) what would be a gain is unresolved.
    """
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pairs = len(list(zip(parent, change)))
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    rel = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if pairs and wins >= 0.9 * pairs and abs(cmed - pmed) > (pq3 - pq1) \
            and rel > 0:
        verdict = "gain" if can_gain else "unresolved"
    elif spread(parent) > bound and not all_better:
        verdict = "unresolved"
    elif rel < -bound:
        verdict = "regression"
    else:
        verdict = "no regression"
    return {"verdict": verdict, "wins": wins, "pairs": pairs,
            "parent_median": pmed, "change_median": cmed,
            "parent_iqr": pq3 - pq1, "change_rel": rel}
