"""Pure functions that turn a harness record into metrics: percentiles,
plan fingerprints, stream latency and backlog, span self
times and the output-check verdict. Kept free of I/O so the tests in
perfbench/tests can drive them with small hand-made inputs."""
import hashlib
import math
import re
from statistics import median


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def fingerprint(tree):
    """Short stable hash of an executed-plan operator tree string."""
    if tree is None:
        return None
    return hashlib.sha1(tree.encode("utf-8")).hexdigest()[:12]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Seconds per span kind not covered by that span's own children.
    Spans are dicts with id, parent, kind, start and end (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start"], s["end"])
        own = max(0.0, (s["end"] - s["start"]) - covered)
        out[s["kind"]] = out.get(s["kind"], 0.0) + own / 1000.0
    return out


def batch_of_blocks(batches):
    """Map MemoryStream block offset -> index of the batch that read
    it. A batch reads blocks startOffset < k <= endOffset."""
    owner = {}
    for i, b in enumerate(batches):
        for k in range(b["startOffset"] + 1, b["endOffset"] + 1):
            owner.setdefault(k, i)
    return owner


def event_latencies(stream, window_from_ms):
    """Per-event latency (s) from scheduled send time to the end of the
    micro-batch that processed it, for events scheduled at or after
    `window_from_ms`. Returns (latencies, events never processed)."""
    batches = stream["batches"]
    owner = batch_of_blocks(batches)
    lat, lost = [], 0
    for sched, block in zip(stream["sched_ms"], stream["block"]):
        if sched < window_from_ms:
            continue
        i = owner.get(block)
        if i is None:
            lost += 1
        else:
            lat.append((batches[i]["endMs"] - sched) / 1000.0)
    return lat, lost


def backlog_series(stream):
    """Events added but not yet taken by a batch, sampled at each batch
    start: [(batch start ms, backlog)]."""
    added = sorted(stream["add_ms"])
    per_block = {}
    for b in stream["block"]:
        per_block[b] = per_block.get(b, 0) + 1
    out, taken, j = [], 0, 0
    for b in sorted(stream["batches"], key=lambda x: x["startMs"]):
        while j < len(added) and added[j] <= b["startMs"]:
            j += 1
        out.append((b["startMs"], max(0, j - taken)))
        taken += sum(per_block.get(k, 0) for k in range(b["startOffset"] + 1, b["endOffset"] + 1))
    return out


def backlog_grew(series, rate, min_growth_s=0.25):
    """True when the backlog over the last third of the samples exceeds
    twice that of the first third by more than `min_growth_s` seconds
    of input at `rate` events/s: the stream is falling behind."""
    if len(series) < 6:
        return False
    third = len(series) // 3
    first = median([b for _, b in series[:third]])
    last = median([b for _, b in series[-third:]])
    return last > 2 * first and last - first > rate * min_growth_s


def generator_lateness_ms(stream, window_from_ms):
    """How late the generator added each window event, in ms."""
    return [a - s for s, a in zip(stream["sched_ms"], stream["add_ms"]) if s >= window_from_ms]


ORACLE_LINE = re.compile(r"^\[(PASS|FAIL|INFO)\] (\S+): (.*)$")


def parse_oracle_report(text):
    """{query: (status, detail)} from scripts/oracle_check.py output."""
    out = {}
    for line in text.splitlines():
        m = ORACLE_LINE.match(line.strip())
        if m:
            out[m.group(2)] = (m.group(1), m.group(3))
    return out


def query_verdicts(names, report, ran_ok):
    """Per-query output verdict: ok when the query ran and its result
    either matched the DuckDB oracle (PASS) or has no oracle SQL and is
    reported rows-only (INFO). Anything else, including a query the
    oracle report does not mention, fails."""
    out = {}
    for n in names:
        status, detail = report.get(n, ("MISSING", "no oracle report line"))
        ok = ran_ok.get(n, False) and status in ("PASS", "INFO")
        out[n] = {"ok": ok, "oracle": status, "detail": detail}
    return out
