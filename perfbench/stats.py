"""Timing statistics and correctness gates of the benchmark.

Everything here is a pure function over the raw observations the JVM side
writes, so ``tests/`` can check it without a JVM.
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(values):
    """(percentile, value): the highest percentile of TAIL_LADDER that has at
    least ten samples beyond it. Below 40 samples none has, and the median is
    reported as (50, median)."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100 * n) >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return 50.0, statistics.median(values)


# ---- correctness gates ------------------------------------------------------

def etl_batch_ok(op, truth):
    """An ETL batch is right iff runBatch cleaned exactly the ground-truth
    rows into one stats row and the read-back stats equal the truth."""
    return ("error" not in op and op["n_clean"] == truth["n_rows"]
            and op["n_stats"] == 1 and op["stats"] == truth)


def query_ok(op, checked_rows, oracle_status):
    """A query attempt is right iff its warm result was EXACT against the
    oracle and the attempt returned the same row count."""
    return ("error" not in op and oracle_status == "EXACT"
            and op["rows"] == checked_rows)


def parse_oracle(output):
    """{query name: status} from tools/check_oracle.py output lines."""
    status = {}
    for line in output.splitlines():
        parts = line.split(None, 2)
        if len(parts) == 3 and parts[0] in ("PASS", "FAIL"):
            status[parts[1]] = parts[2].strip()
    return status


def stream_windows_ok(emitted, batch, watermark_us, base_us, hour_us=3600000000):
    """The stream is right iff, over windows starting at or after ``base_us``,
    it emitted exactly the batch run's counts for every window that closed
    before the final watermark and nothing for windows still open. Windows
    before ``base_us`` hold only late events and are left out."""
    def keep(rows, closed):
        return {(s, t): n for s, t, n in rows
                if s >= base_us and ((s + hour_us < watermark_us) == closed)
                and s + hour_us != watermark_us}
    return (keep(emitted, True) == keep(batch, True) and not keep(emitted, False)
            and len(keep(batch, True)) > 0)
