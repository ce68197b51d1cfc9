"""Seeded generator of the benchmark's lakeside-shaped log segments.

One collector, hourly segment files in lakeside's dateInt/hour layout:

    <out>/c0/<dateint>/logs/<hour>/tbl_<n>.parquet

Every hour holds exactly `rows_per_hour` rows, so the data volume does not
depend on the seed; the seed only changes the content. Columns:

    ts          int64, epoch nanoseconds, sorted within a file
    service     ~20 values, skewed
    host, pod   tags that churn daily (new names every day), so the
                trigram manifest can prune an equality filter to a few files
    event_type  the log level (INFO/DEBUG/WARN/ERROR)
    user_id     int64, high cardinality
    value       double, latency-like, two decimals
    message     free text (never indexed, so filters on it cannot prune)

The program only ever sees the parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-02T00:00:00Z: day 0 of the data; the data ends `days` later
START_MS = 1704153600000
HOUR_MS = 3600000
SERVICES = [
    "checkout", "cart", "catalog", "search", "payments", "auth", "users",
    "inventory", "shipping", "orders", "billing", "gateway", "frontend",
    "recommend", "reviews", "email", "notify", "ledger", "media", "ads",
]
LEVELS = ["INFO", "DEBUG", "WARN", "ERROR"]
LEVEL_P = [0.70, 0.15, 0.10, 0.05]
HOSTS_PER_SERVICE_DAY = 4
PODS_PER_SERVICE_DAY = 8
USERS = 400000
# bumped whenever the generated content changes, so cached data is rebuilt
VERSION = "1"


def _token(rng, n):
    alphabet = np.array(list("bcdfghjklmnpqrstvwxz2456789"))
    return "".join(rng.choice(alphabet, n))


def _names(rng, days):
    """Per (day, service) host and pod names: new names every day."""
    hosts, pods = [], []
    for d in range(days):
        for s in SERVICES:
            hosts += [f"{s}-{_token(rng, 6)}-{k}"
                      for k in range(HOSTS_PER_SERVICE_DAY)]
            pods += [f"{s}-{_token(rng, 5)}-{_token(rng, 5)}"
                     for _ in range(PODS_PER_SERVICE_DAY)]
    return pa.array(hosts), pa.array(pods)


def _messages(rng, n):
    """A pool of `n` distinct free-text log lines."""
    verbs = ["GET", "POST", "PUT", "DELETE"]
    out = []
    for i in range(n):
        k = i % 6
        a, b = int(rng.integers(0, 100000)), int(rng.integers(1, 5000))
        s = SERVICES[i % len(SERVICES)]
        if k == 0:
            out.append(f"{verbs[a % 4]} /api/v1/{s}/items/{a} took {b}ms status=200")
        elif k == 1:
            out.append(f"user {a} login failed from 10.{a % 250}.{b % 250}.7: bad password")
        elif k == 2:
            out.append(f"cache miss key={s}:{a} fetched in {b}ms")
        elif k == 3:
            out.append(f"timeout after {b}ms contacting {s} upstream retry={a % 5}")
        elif k == 4:
            out.append(f"order {a} shipped to zone {b % 40} carrier=ups")
        else:
            out.append(f"OutOfMemoryError in worker {a % 64} heap={b}MB gc=full")
    return pa.array(out)


def generate_hours(seed, days, rows_per_hour, pods_out=None):
    """Yield (hour_index, pyarrow.Table) for every hour of the dataset.
    `pods_out`, when given, receives each day's pod names."""
    rng = np.random.default_rng(seed)
    hosts, pods = _names(rng, days)
    if pods_out is not None:
        per_day = len(SERVICES) * PODS_PER_SERVICE_DAY
        names = pods.to_pylist()
        pods_out += [names[d * per_day:(d + 1) * per_day] for d in range(days)]
    messages = _messages(rng, 40000)
    svc_w = 1.0 / np.arange(1, len(SERVICES) + 1) ** 0.8
    svc_w /= svc_w.sum()
    services = pa.array(SERVICES)
    levels = pa.array(LEVELS)
    n = rows_per_hour
    for h in range(days * 24):
        day = h // 24
        hour_start_ns = (START_MS + h * HOUR_MS) * 1000000
        ts = np.sort(rng.integers(0, HOUR_MS * 1000000, n)) + hour_start_ns
        svc = rng.choice(len(SERVICES), n, p=svc_w)
        slot = day * len(SERVICES) + svc
        host = slot * HOSTS_PER_SERVICE_DAY + rng.integers(
            0, HOSTS_PER_SERVICE_DAY, n)
        pod = slot * PODS_PER_SERVICE_DAY + rng.integers(
            0, PODS_PER_SERVICE_DAY, n)
        lvl = rng.choice(len(LEVELS), n, p=LEVEL_P)
        user = (rng.pareto(1.2, n) * 2000).astype(np.int64) % USERS
        value = np.round(rng.lognormal(3.0, 0.8, n), 2)
        msg = rng.integers(0, len(messages), n)
        yield h, pa.table({
            "ts": pa.array(ts, pa.int64()),
            "service": services.take(pa.array(svc)),
            "host": hosts.take(pa.array(host)),
            "pod": pods.take(pa.array(pod)),
            "event_type": levels.take(pa.array(lvl)),
            "user_id": pa.array(user, pa.int64()),
            "value": pa.array(value, pa.float64()),
            "message": messages.take(pa.array(msg)),
        })


def segment_path(root, h):
    ms = START_MS + h * HOUR_MS
    day = np.datetime64(ms, "ms").astype("datetime64[D]")
    dateint = str(day).replace("-", "")
    return os.path.join(root, "c0", dateint, "logs", f"{h % 24:02d}",
                        f"tbl_{h:04d}.parquet")


def generate(seed, out, days=30, rows_per_hour=3000):
    """Write the dataset under `out`, plus `pods.txt` (one line per day:
    that day's pod names, which the explore client filters on); returns
    the list of segment files."""
    files, pods = [], []
    for h, table in generate_hours(seed, days, rows_per_hour, pods):
        path = segment_path(out, h)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        files.append(path)
    with open(os.path.join(out, "pods.txt"), "w") as f:
        f.write("\n".join(" ".join(day) for day in pods) + "\n")
    return files


def row_hashes(seed, days, rows_per_hour):
    """sha256 of every generated row, in generation order."""
    out = []
    for _, table in generate_hours(seed, days, rows_per_hour):
        cols = [c.to_pylist() for c in table.columns]
        for row in zip(*cols):
            out.append(hashlib.sha256(repr(row).encode()).hexdigest())
    return out
