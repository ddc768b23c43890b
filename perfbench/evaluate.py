"""Arithmetic and checks that turn one JVM run's raw record into metrics.

Everything here is a pure function of the raw record, so the self-tests
in `test_evaluate.py` can pin it without Spark.
"""
import collections
import datetime as dt
import functools
import hashlib
import math
import statistics

# Percentiles a tail figure may be taken at, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
BLACKLIST_THRESHOLD = 100
BOT_PROVINCE = "Hebei"
# as AdLoad.scala has them
HISTORY_DAY = "2025-12-31"
HISTORY_USER = 1000000
ADS = 100


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten of `n`
    samples beyond it; None when even the median has fewer."""
    best = None
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = p
    return best


def latency_summary(samples):
    """Median and tail of a non-empty list of latencies, with the tail's
    rank; the tail is None when there are too few samples for one."""
    tail = tail_percentile(len(samples))
    return {"p50": percentile(samples, 50.0),
            "tail": None if tail is None else percentile(samples, tail),
            "tail_pct": tail, "samples": len(samples)}


def window_medians(batches, queries, window):
    """Per query, the median duration in seconds of its non-empty
    batches committed in the window [start_s, end_s). A query with no
    such batch is left out."""
    start_s, end_s = window
    per = {}
    for b in batches:
        if b["query"] in queries and b["rows"] > 0 and start_s <= b["done_s"] < end_s:
            per.setdefault(b["query"], []).append(b["durations_ms"]["triggerExecution"] / 1e3)
    return {q: statistics.median(v) for q, v in per.items()}


def batch_counts(query):
    """(attempted, failed) executions of one batch query's record: the
    first execution, each later one that finished (warm-up or counted)
    and each that threw (its errors, with the pass they were in; pass 0
    is the first)."""
    later_errors = sum(1 for e in query["errors"] if e["pass"] > 0)
    return (1 + len(query["warmup"]) + len(query["warm"]) + later_errors,
            len(query["errors"]))


def commit_times(batches, queries):
    """Per query, its batches as (end_offset, done_s) in commit order."""
    out = {q: [] for q in queries}
    for b in sorted(batches, key=lambda b: (b["query"], b["batch"])):
        if b["query"] in out and b["end_offset"] >= 0:
            out[b["query"]].append((b["end_offset"], b["done_s"]))
    return out


def covering_commit(commits, offset):
    """Commit time of the first batch whose end offset reaches `offset`
    (a source offset counts chunks, starting at 0), or None."""
    for end, done in commits:
        if end >= offset:
            return done
    return None


def chunk_latencies(chunks, batches, queries):
    """Latency of each chunk: from when it was due to be sent to the
    commit of the last of the queries' batches that covers it. Returns
    (latencies, uncovered chunk count)."""
    commits = commit_times(batches, queries)
    out, missing = [], 0
    for c in chunks:
        done = [covering_commit(commits[q], c["offset"]) for q in queries]
        if any(d is None for d in done):
            missing += 1
        else:
            out.append(max(done) - c["due_s"])
    return out, missing


def generator_lag(chunks):
    """How late the open loop sent its latest chunk, in seconds."""
    return max(c["sent_s"] - c["due_s"] for c in chunks)


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_time(start, end, task_intervals):
    """Wall time of [start, end) during which no task was running."""
    return (end - start) - union_length(task_intervals, start, end)


def table_digest(tbl, norm):
    """Order-free digest of an arrow table under `norm` (check.py's
    `norm_arrow`), with its row count."""
    cols, rows = norm(tbl)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"sha256": h.hexdigest(), "rows": len(rows)}


# ---------------------------------------------------------------- stream

def history_cells(n):
    """The previous day's `n` per-user counts the store is given before
    the job starts, as `Job.preload` writes them."""
    return {(HISTORY_DAY, str(HISTORY_USER + i), str(i % ADS)): 1 + i % 50 for i in range(n)}


def recount(lines, history=0, threshold=BLACKLIST_THRESHOLD):
    """Exact expected store contents for the ad-click job over `lines`
    after a preload of `history` keys, restricted to the cells that do
    not depend on micro-batch timing: the blacklist, per-(day, user, ad)
    counts of users never listed, per-minute trend counts, and ad_stat
    and the province top-3 outside the bot province."""
    per_user_ad = collections.Counter()
    stat = collections.Counter()
    trend = collections.Counter()
    utc = functools.lru_cache(maxsize=None)(_utc)
    for line in lines:
        ts, prov, city, user, ad = line.split(" ")
        day, minute = utc(int(ts) // 60000)
        per_user_ad[(day, user, ad)] += 1
        stat[(day, prov, city, ad)] += 1
        trend[(minute, ad)] += 1
    black = {u for (_, u, _), n in per_user_ad.items() if n >= threshold}
    stat = {k: n for k, n in stat.items() if k[1] != BOT_PROVINCE}
    by_group = collections.defaultdict(collections.Counter)
    for (day, prov, _, ad), n in stat.items():
        by_group[(day, prov)][ad] += n
    top3 = {}
    for (day, prov), per_ad in by_group.items():
        for ad, n in sorted(per_ad.items(), key=lambda x: (-x[1], int(x[0])))[:3]:
            top3[(day, prov, ad)] = n
    return {
        "ad_blacklist": {(u,): 0 for u in black},
        "ad_user_click_count": {**history_cells(history),
                                **{k: n for k, n in per_user_ad.items() if k[1] not in black}},
        "ad_click_trend": dict(trend),
        "ad_stat": stat,
        "ad_province_top3": top3,
    }


def _utc(minutes):
    """(day, minute) labels of a minute since the epoch, in UTC."""
    t = dt.datetime.fromtimestamp(minutes * 60, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%d"), t.strftime("%Y%m%d%H%M")


def compare_store(expected, dumped):
    """(cells compared, cells that disagree) between the recount and a
    store dump {table: [[k1, ..., kn, value], ...]}. Cells the recount
    leaves out (blacklisted users, the bot province) are skipped on
    both sides; any other cell missing on either side disagrees."""
    compared = bad = 0
    black = {k[0] for k in expected["ad_blacklist"]}
    for table, want in expected.items():
        got = {}
        for row in dumped.get(table, []):
            key, v = tuple(row[:-1]), int(row[-1])
            if table == "ad_user_click_count" and key[1] in black:
                continue
            if table in ("ad_stat", "ad_province_top3") and key[1] == BOT_PROVINCE:
                continue
            got[key] = v
        if table == "ad_blacklist":
            got = {k: 0 for k in got}
        for k in set(want) | set(got):
            compared += 1
            if want.get(k) != got.get(k):
                bad += 1
    return compared, bad

