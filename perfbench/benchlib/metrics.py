"""Metric arithmetic shared by every workload: the median/tail rule,
follow lag from streaming progress, request scoring, and the per-layer
roll-up of spans and listener counters."""
import statistics
from datetime import datetime


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    Returns ``(value, percentile, n)``. With sorted samples ``x[0..n-1]``
    the sample ``x[k]`` has ``n-1-k`` samples beyond it, so the rule picks
    ``k = n - 11`` and reports its nearest-rank percentile ``100*(k+1)/n``.
    Fewer than 11 samples support no such percentile: the maximum is
    returned with percentile ``None``.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None, None, 0
    if n < 11:
        return s[-1], None, n
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n


def p50(xs):
    return statistics.median(xs) if xs else None


def progress_commit_ms(p):
    """Commit time of a trigger: its start timestamp plus its
    ``triggerExecution`` duration, in epoch ms."""
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0
    return ts + p["durationMs"].get("triggerExecution", 0)


def progress_start_ms(p):
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0


def end_offset(p):
    src = p.get("sources") or []
    if not src or src[0].get("endOffset") in (None, "null"):
        return None
    return int(str(src[0]["endOffset"]).strip().strip('"'))


def start_offset(p):
    src = p.get("sources") or []
    v = src[0].get("startOffset") if src else None
    return None if v in (None, "null") else int(str(v).strip().strip('"'))


def follow_lags(progress, t0_ms, interval_ms, head0, last_block):
    """Per-block follow lag in seconds: commit time of the first trigger
    whose committed end offset covers the block, minus the block's due
    time ``t0 + (b - head0) * interval``.

    Blocks due before the follow query's first data commit are its
    start-up (the first trigger of a fresh query plans and compiles) and
    are not sampled. Blocks never covered are returned separately (they
    count as failures)."""
    commits = sorted((progress_commit_ms(p), end_offset(p)) for p in progress
                     if end_offset(p) is not None)
    first = next((c for c, e in commits if e > head0), None)
    lags, missing = [], []
    j = 0
    for b in range(head0 + 1, last_block + 1):
        due = t0_ms + (b - head0) * interval_ms
        while j < len(commits) and commits[j][1] < b:
            j += 1
        if j == len(commits):
            missing.append(b)
        elif due >= first:
            lags.append((commits[j][0] - due) / 1000.0)
    return lags, missing


def backlog_max(progress, t0_ms, interval_ms, head0, last_block):
    """Most blocks released but not yet committed when a trigger starts."""
    worst = 0
    for p in progress:
        so = start_offset(p)
        if so is None:
            continue
        released = head0 + int(max(0.0, progress_start_ms(p) - t0_ms) // interval_ms)
        worst = max(worst, min(released, last_block) - so)
    return worst


def score(samples, check):
    """Split request samples into timed successes and failures.

    ``check(sample)`` returns True when the sample's answer is right. A
    sample that threw (``ok`` false) or answered wrong is a failure and
    enters no latency list. Returns ``(ok_samples, failures)`` where each
    failure is ``(id, reason)``.
    """
    good, bad = [], []
    for s in samples:
        if not s.get("ok"):
            bad.append((s.get("id"), "threw: %s" % s.get("error")))
        elif not check(s):
            bad.append((s.get("id"), "wrong answer"))
        else:
            good.append(s)
    return good, bad


LAYERS = ("sources", "streaming", "sinks", "functions", "operators")


def layer_self_times(spans):
    """Self time per layer in seconds: each span's duration minus the
    part of it its child spans cover, summed by the span name's leading
    module (``sources.Logs.read`` → ``sources``). A child timed on
    another thread may outlive its parent; only its overlap with the
    parent is taken off. Spans outside the five modules (requests,
    phases) are reported under ``other``."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {k: 0.0 for k in LAYERS + ("other",)}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = _union_ns([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                             for c in children.get(s["id"], []) if c["start_ns"] < b
                             and c["end_ns"] > a])
        self_ns = max(0, s["end_ns"] - s["start_ns"] - covered)
        layer = s["name"].split(".", 1)[0]
        out[layer if layer in LAYERS else "other"] += self_ns / 1e9
    return out


def _union_ns(iv):
    total, end = 0, None
    for a, b in sorted(iv):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
