"""Pure functions the benchmark derives its numbers and verdicts with.

Kept free of I/O so that `perfbench/tests` can pin them down.
"""
import datetime as dt
import decimal
import hashlib
import json
import math
import re

MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def groups_beyond(samples, p):
    """Number of distinct groups with a sample above the p-th percentile.

    `samples` is a list of (value, group).  A group is the unit whose
    samples are not independent: for stream latency, the trigger that
    emitted the row (its rows share one emit time).
    """
    cut = percentile([v for v, _ in samples], p)
    return len({g for v, g in samples if v > cut})


def tail_supported(samples, p, need=MIN_BEYOND):
    """True when at least `need` groups lie beyond the p-th percentile,
    the rule for reporting that percentile at all."""
    return bool(samples) and groups_beyond(samples, p) >= need


def geomean(values):
    """Geometric mean of positive numbers."""
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def median(values):
    return percentile(values, 50)


def parse_iso_ms(ts):
    """Epoch milliseconds of a StreamingQueryProgress timestamp."""
    t = dt.datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


def trigger_ends(progress):
    """{batchId: epoch ms when the trigger finished} from progress JSON."""
    return {p["batchId"]: parse_iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            for p in progress}


_ID = re.compile(r'"id":(-?\d+)')


def attribute_rows(rows, ends):
    """Attach each emitted row to the trigger that committed it.

    `rows` is a list of (batchId, json line).  Returns a list of
    (order id, batchId, trigger end ms, matched) where `matched` is
    true for a joined row and false for a left-outer null row.  A row
    whose batch never reported progress raises: its emit time is
    unknown, so no latency can be given for it.
    """
    out = []
    for batch, line in rows:
        if batch not in ends:
            raise KeyError(f"row from batch {batch} has no progress report")
        m = _ID.search(line)
        if m is None:
            raise ValueError(f"output row without an id: {line!r}")
        out.append((int(m.group(1)), batch, ends[batch], '"converted_amount"' in line))
    return out


def due_ms(order_id, first_live_id, live_start_ms, rate, tick_ms):
    """When the open-loop generator was due to send live order
    `order_id`: the first tick at or after its nominal event time,
    counted from the first live order's."""
    off = order_id * 1000 // rate - first_live_id * 1000 // rate
    return live_start_ms + -(-off // tick_ms) * tick_ms


def latency_samples(attributed, first_live_id, first_id, end_id, live_start_ms, rate,
                    tick_ms):
    """(latency ms, batchId) for every matched row of an order in
    [first_id, end_id): due time to the end of its committing trigger."""
    return [(end - due_ms(i, first_live_id, live_start_ms, rate, tick_ms), b)
            for i, b, end, matched in attributed
            if matched and first_id <= i < end_id]


def lines_digest(lines):
    """Order-independent digest of a multiset of output lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def canon_value(v):
    """Canonical text of one cell: numbers by value (an integral float,
    an int and a Decimal of the same value agree), timestamps in ISO
    form, lists element-wise, NULL distinct from every value."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return repr(v)
        if v == int(v) and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return json.dumps(v) if not isinstance(v, str) else json.dumps(v, ensure_ascii=False)


def rows_digest(columns, rows):
    """Digest of a result set that ignores row order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["\t".join(canon_value(r[i]) for i in order) for r in rows]
    return lines_digest([",".join(sorted(columns))] + ["\x00" + l for l in lines]), len(rows)


def per_id_mismatches(got_lines, want_lines):
    """Number of order ids whose output rows differ between two line sets."""
    def by_id(lines):
        d = {}
        for line in lines:
            m = _ID.search(line)
            key = int(m.group(1)) if m else line
            d.setdefault(key, []).append(line)
        return {k: sorted(v) for k, v in d.items()}
    got, want = by_id(got_lines), by_id(want_lines)
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))


def order_id(line):
    """The order id of an output row (-1 when it has none)."""
    m = _ID.search(line)
    return int(m.group(1)) if m else -1
