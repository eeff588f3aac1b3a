"""The benchmark's arithmetic, kept apart from the runs so it can be tested.

Timings are reported as a median and a tail: the highest percentile that
still has at least ten samples beyond it (`tail`). An open-loop unit of
work (a CDC slice, a query batch) counts as done at the commit of the
first trigger whose cumulative input rows cover every row that unit and
the ones before it can produce (`completion_times`).
"""

import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail_rank(n, beyond=TAIL_BEYOND):
    """1-based rank of the highest sample with `beyond` samples above it."""
    if n <= beyond:
        raise ValueError("%d samples cannot leave %d beyond a percentile" % (n, beyond))
    return n - beyond


def tail(values, beyond=TAIL_BEYOND):
    """(value, percentile) of the highest percentile with `beyond` samples
    beyond it; with 100 samples this is the nearest-rank p90."""
    s = sorted(values)
    r = tail_rank(len(s), beyond)
    return s[r - 1], 100.0 * r / len(s)


def need_rows(base, orders, n_slices):
    """Wide rows the chain can have produced once slices 0..i arrived.

    `orders` holds (detail_slice, header_slice, n_details) per live
    order: a detail joins only when its header is there too, so an order
    completes at the later of its two slices. `base` counts the rows
    produced before the live phase."""
    per_slice = [0] * n_slices
    for detail_slice, header_slice, n_details in orders:
        per_slice[max(detail_slice, header_slice)] += n_details
    out, total = [], base
    for n in per_slice:
        total += n
        out.append(total)
    return out


def completion_times(ledger, need):
    """Commit time of the first trigger covering each unit, or None.

    `ledger` is [(commit_ms, cumulative_rows)] in trigger order and
    `need` the non-decreasing cumulative rows each unit requires."""
    out, j = [], 0
    for n in need:
        while j < len(ledger) and ledger[j][1] < n:
            j += 1
        out.append(ledger[j][0] if j < len(ledger) else None)
    return out


def commit_events(ledger, need):
    """How many distinct trigger commits completed at least one unit:
    the independent events the latency samples rest on."""
    return len({c for c in completion_times(ledger, need) if c is not None})


def latencies(ledger, need, due_ms):
    """Due-to-commit latency (ms) of every completed unit, and how many
    units never completed."""
    done = completion_times(ledger, need)
    lat = [c - d for c, d in zip(done, due_ms) if c is not None]
    return lat, sum(1 for c in done if c is None)


def recall_at_k(answers, exact, k=5):
    """Mean share of each query's exact top-k found in its answers; a
    query with no answers scores 0."""
    if not exact:
        raise ValueError("no queries")
    hits = 0
    for q, truth in exact.items():
        hits += len(set(answers.get(q, [])[:k]) & set(truth[:k]))
    return hits / (k * len(exact))


def error_rate(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted

