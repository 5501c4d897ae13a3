"""The benchmark's arithmetic, kept free of I/O so it can be unit-tested."""
import math
import random
import statistics


def sequence(ops, seed, rounds):
    """The seeded op sequence: `rounds` rounds, each a shuffle of every op.

    Rounds keep each op equally frequent in any whole number of rounds, so
    different seeds change the order, not the mix.
    """
    rng = random.Random(seed)
    seq = []
    for _ in range(rounds):
        r = list(ops)
        rng.shuffle(r)
        seq.extend(r)
    return seq


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by Lentz's continued
    fraction (Numerical Recipes, section 6.4)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):  # the fraction converges fast on this side
        return 1.0 - betainc(b, a, 1.0 - x)
    tiny = 1e-300
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def harrell_davis(values, p):
    """Harrell-Davis estimate of quantile `p`: a Beta(p(n+1), (1-p)(n+1))-
    weighted mean of all order statistics. Latencies here cluster by op, and
    a single order statistic jumps between clusters from run to run; the
    weighted mean moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(xs))


def percentile(values, p, min_beyond):
    """Percentile `p` (0 < p < 1) of `values` (Harrell-Davis), falling back to
    the highest percentile that still has `min_beyond` samples beyond it, and
    never below the median. Returns (value, percentile used)."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    used = min(p, max(0.5, (n - min_beyond) / n))
    return harrell_davis(values, used), used


def rate(calls):
    """Ops per second of one closed-loop client over whole rounds: ops per
    round divided by the sum of each op's median wall time (ns), scaled by
    the share of calls that were correct. Per-op medians keep a burst of
    load on a shared host, which slows a few calls, from moving the rate; a
    failing op still costs its time and adds nothing."""
    by_op = {}
    for c in calls:
        by_op.setdefault(c["op"], []).append(c["wall"])
    if not by_op:
        return 0.0
    ok = sum(1 for c in calls if not c["bad"]) / len(calls)
    return ok * len(by_op) * 1e9 / sum(median(v) for v in by_op.values())


TIME_UNITS = {"ms", "s"}
RATE_UNITS = {"1/s"}


def at_reference_speed(metrics, slowdown):
    """{name: (value, unit)} scaled to a host `slowdown` times slower than
    the reference one: times divide by it, rates multiply, the rest stays."""
    def scale(v, unit):
        if unit in TIME_UNITS:
            return v / slowdown
        if unit in RATE_UNITS:
            return v * slowdown
        return v
    return {k: (scale(v, u), u) for k, (v, u) in metrics.items()}


def covered(span, children):
    """Time inside `span` = (start, end) that the union of `children` covers."""
    lo, hi = span
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """Duration of `span` minus the time its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def call_error(call, expected):
    """Why a call counts as an error, or None: it threw, its op has no usable
    oracle, or its row count or content digest differs from the oracle's."""
    if call.get("error"):
        return "threw: " + call["error"]
    want = expected.get(call["op"])
    if want is None or "error" in want:
        return "no oracle: " + (want or {}).get("error", "missing")
    if call["rows"] != want["rows"]:
        return f"rows {call['rows']} != oracle {want['rows']}"
    if call["digest"] != want["digest"]:
        return "content digest differs from oracle"
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0
