"""Pure helpers that turn one harness run's raw measurements into metrics.

Kept free of I/O so `test_metrics.py` can pin the rules: which percentile a
sample count supports, how failures count, and which operations a failed
check marks as failed.
"""
import math
import statistics

# A failed operation has no latency; it counts as missing every latency limit.
FAILED = math.inf


def top_percentile(n, want=90, beyond=10):
    """The highest whole percentile, at most `want`, with at least `beyond`
    of `n` samples above it; the median when even that needs more samples."""
    if n <= 0:
        return 50
    return max(50, min(want, math.floor(100 * (n - beyond) / n)))


def percentile(values, p):
    """Nearest-rank percentile of `values` (failed samples are `FAILED`)."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[rank - 1]


def latency(samples):
    """Median and top percentile of (ms, failed) samples, in ms, with the
    percentile used and the sample count. Failed samples count as `FAILED`."""
    values = [FAILED if failed else ms for ms, failed in samples]
    p = top_percentile(len(values))
    return {"p50": percentile(values, 50), "top": percentile(values, p),
            "top_rank": p, "samples": len(values)}


def failed_ops(ops, bad_names):
    """How many (name, error) operations failed: each that failed itself,
    and each whose name failed a check elsewhere in the run."""
    return sum(1 for name, error in ops if error or name in bad_names)


def finite(v):
    """`v` with a failed (infinite) latency written as the largest float, so
    the result stays valid JSON."""
    return v if math.isfinite(v) else float.fromhex("0x1.fffffffffffffp+1023")


def batch_metrics(raw, bad_names):
    """End-to-end metrics of a batch run, plus the operations attempted and
    failed. An operation is one query's declared output in one pass."""
    ops = [(op["name"], op.get("error")) for p in raw["passes"] for op in p]
    failed = failed_ops(ops, bad_names)
    lat = latency([(op["ms"], bool(op.get("error")) or op["name"] in bad_names)
                   for p in raw["passes"] for op in p])
    walls = [sum(op["ms"] for op in p) / 1e3 for p in raw["passes"]]
    metrics = {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": statistics.median(walls),
    }
    info = {"passes": len(walls), "op_p50_ms": lat["p50"], f"op_p{lat['top_rank']}_ms": lat["top"],
            "op_samples": lat["samples"], "storage_peak_mb": raw["storage_peak_mb"]}
    return metrics, len(ops), failed, info


def serve_metrics(raw, bad_names):
    """End-to-end metrics of a serving run, plus the requests attempted and
    failed. `wall_s` is the window's seconds per round of requests."""
    reqs = raw["requests"]
    bad = [bool(r.get("error")) or r["label"] in bad_names for r in reqs]
    lat = latency([(r["ms"], b) for r, b in zip(reqs, bad)])
    profile = latency([(r["ms"], b) for r, b in zip(reqs, bad) if r["kind"] == "profile"])
    upload = latency([(r["ms"], b) for r, b in zip(reqs, bad) if r["kind"] == "upload"])
    ok = len(reqs) - sum(bad)
    metrics = {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": raw["window_s"] / (len(reqs) / raw["round_size"]),
    }
    info = {
        "op_p50_ms": lat["p50"], f"op_p{lat['top_rank']}_ms": lat["top"], "op_samples": lat["samples"],
        "profile_p50_ms": profile["p50"], f"profile_p{profile['top_rank']}_ms": profile["top"],
        "profile_samples": profile["samples"],
        "upload_p50_ms": upload["p50"], "upload_samples": upload["samples"],
        "throughput_rps": ok / raw["window_s"],
    }
    return metrics, len(reqs), sum(bad), info


def result_line(wanted, values, attempted, failed):
    """The run's result: each wanted metric with its unit, and the counts of
    operations attempted and failed. A wanted metric the run lacks raises."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {w["name"]: {"value": finite(values[w["name"]]), "unit": w["unit"]} for w in wanted},
    }
