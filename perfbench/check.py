"""Output checks and summaries for the benchmark.

``compare`` turns the JVM's output counts into a list of mismatches
against the generator's expected counts; each mismatch is one failed
operation. ``summary`` reports a timing as its median plus the highest
percentile that still has at least ten samples beyond it.
"""
import statistics

# HLL is an estimate: its distinct count must land within this share of
# the exact count (64 registers give a standard error of ~13 %).
HLL_TOLERANCE = 0.4


def compare(expected, actual, prefix=""):
    """Mismatches between two count maps, one string per failed key."""
    bad = []
    for key in sorted(expected):
        want, got = expected[key], actual.get(key)
        if got != want:
            bad.append(f"{prefix}{key}: expected {want}, got {got}")
    return bad


def compare_curation(expected, actual):
    exact = {k: v for k, v in expected.items()
             if k in ("lsh_components", "lsh_component_members",
                      "jaccard_pairs", "semdedup_kept", "ivf_rows",
                      "gopher_kept", "kn_docs")}
    bad = compare(exact, actual, "curation.")
    if actual.get("ivf_wrong_cluster") != 0:
        bad.append(f"curation.ivf_wrong_cluster: expected 0, got "
                   f"{actual.get('ivf_wrong_cluster')}")
    est, exact_n = actual.get("hll_est"), expected["hll_exact"]
    if est is None or abs(est - exact_n) > HLL_TOLERANCE * exact_n:
        bad.append(f"curation.hll_est: {est} not within {HLL_TOLERANCE:.0%} "
                   f"of {exact_n}")
    return bad


def tail_percentile(n):
    """Highest percentile (a multiple of 5) with >= 10 samples beyond it."""
    p = 95
    while p > 50 and n * (100 - p) / 100 < 10:
        p -= 5
    return p


def summary(values):
    """(median, tail percentile, tail value, count) of a sample list."""
    vs = sorted(values)
    n = len(vs)
    if n == 0:
        return None
    p = tail_percentile(n)
    idx = min(n - 1, int(round(p / 100 * (n - 1))))
    return statistics.median(vs), p, vs[idx], n
