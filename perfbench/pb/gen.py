"""Seeded input generator for the two stream workloads.

The same (workload, seed, params) gives byte-identical input. Each record
has a send time (when the open-loop sender posts it) and an event-time
stamp, both in milliseconds from the run's send origin.
"""
import bisect
import random

COLUMNS = ["send_ms", "ts_ms", "spool", "event_id", "user_id", "event_type",
           "value", "table", "op", "pk", "seq", "province"]
PROVINCES = ["P%02d" % i for i in range(34)]
ORDER_PK0 = 1_000_000_000
DETAIL_PK0 = 2_000_000_000


def param(params, workload, key):
    """A parameter's value: the workload's own, else the common one."""
    own = params.get(workload, {})
    return (own[key] if key in own else params["common"][key])["value"]


def _poisson_times(rng, rate_per_s, start_ms, end_ms):
    t = float(start_ms)
    out = []
    if rate_per_s <= 0:
        return out
    while True:
        t += rng.expovariate(rate_per_s) * 1000.0
        if t >= end_ms:
            return out
        out.append(int(t))


def generate(workload, seed, params, duration_ms, timed_from_ms=0):
    """Records (tuples in COLUMNS order), sorted by send time.

    Late events are only stamped for sends at or after
    `timed_from_ms + late_after_ms`, once every watermark is set.
    """
    p = lambda k: param(params, workload, k)
    rng = random.Random("%s:%d" % (workload, seed))
    users = p("users")
    cum, acc = [], 0.0
    for k in range(1, users + 1):
        acc += 1.0 / k ** p("zipf_s")
        cum.append(acc)
    # rank → user id through a seeded permutation, so hot users differ by seed
    ids = list(range(1, users + 1))
    rng.shuffle(ids)

    def user():
        return ids[bisect.bisect_left(cum, rng.random() * acc)]

    mix = p("event_mix")
    types, weights = list(mix), list(mix.values())
    gap_lo, gap_hi = p("session_gap_ms")
    ooo_lo, ooo_hi = p("ooo_ms")
    late_from = timed_from_ms + p("late_after_ms")
    recs = []
    eid = 0

    def log_event(send, u, etype):
        nonlocal eid
        eid += 1
        ts = send
        if etype in ("view", "purchase", "click", "signup") and send >= late_from \
                and rng.random() < p("late_share"):
            ts = send - p("late_ms")
        elif rng.random() < p("ooo_share"):
            ts = send - rng.randint(ooo_lo, ooo_hi)
        recs.append((send, ts, "log", eid, u, etype, "%.2f" % rng.uniform(0, 100),
                     "", "", "", "", ""))

    # sessions: one event (a bounce when it is a view) or more; every event
    # type, the first too, is drawn from the measured mix, so the mix sent
    # is the table's
    for start in _poisson_times(rng, p("session_rate_per_s"), 0, duration_ms):
        u = user()
        n = 1 if rng.random() < p("bounce_share") else \
            2 + int(rng.expovariate(1.0 / p("session_extra_mean")))
        t = start
        for _ in range(n):
            if t >= duration_ms:
                break
            log_event(t, u, rng.choices(types, weights)[0])
            t += rng.randint(gap_lo, gap_hi)

    def cdc(send, table, op, pk, seq, u, value, province=""):
        recs.append((send, send, "db", pk, u, table, value, table, op, pk, seq, province))

    # dims: one insert per user at the start, then updates and deletes
    dim_seq = {}
    live = []
    for k, u in enumerate(sorted(ids)):
        dim_seq[u] = 1
        live.append(u)
        cdc(k * 1000 // max(1, users), "user_info", "insert", u, 1, u, "0",
            rng.choice(PROVINCES))
    for t in _poisson_times(rng, p("dim_update_rate_per_s"), 1000, duration_ms):
        u = rng.choice(live)
        dim_seq[u] += 1
        cdc(t, "user_info", "update", u, dim_seq[u], u, "0", rng.choice(PROVINCES))
    for t in _poisson_times(rng, p("dim_delete_rate_per_s"), 1000, duration_ms):
        if len(live) > 1:
            u = live.pop(rng.randrange(len(live)))
            dim_seq[u] += 1
            cdc(t, "user_info", "delete", u, dim_seq[u], u, "0", "")

    # orders with 1-3 details; some changes are updates and deletes
    opk, dpk = ORDER_PK0, DETAIL_PK0
    dlo, dhi = p("detail_delay_ms")
    for t in _poisson_times(rng, p("order_rate_per_s"), 1000, duration_ms):
        u = user()
        opk += 1
        cdc(t, "order_info", "insert", opk, 1, u, "%.2f" % rng.uniform(5, 500))
        change = rng.random()
        if change < p("order_update_share"):
            cdc(t + rng.randint(1000, 4000), "order_info", "update", opk, 2, u,
                "%.2f" % rng.uniform(5, 500))
        elif change < p("order_update_share") + p("order_delete_share"):
            cdc(t + rng.randint(1000, 4000), "order_info", "delete", opk, 2, u, "0")
        for _ in range(rng.randint(1, 3)):
            dpk += 1
            dt = t + rng.randint(dlo, dhi)
            cdc(dt, "order_detail", "insert", dpk, 1, u, "%.2f" % rng.uniform(1, 200))
            change = rng.random()
            if change < p("detail_update_share"):
                cdc(dt + rng.randint(500, 3000), "order_detail", "update", dpk, 2, u,
                    "%.2f" % rng.uniform(1, 200))
            elif change < p("detail_update_share") + p("detail_delete_share"):
                cdc(dt + rng.randint(500, 3000), "order_detail", "delete", dpk, 2, u, "0")

    # a workload may send warm-up input only at its start, leaving the rest
    # of the warm-up quiet
    quiet_from = params.get(workload, {}).get("warm_input_ms", {}).get("value", timed_from_ms)
    recs = [r for r in recs if r[0] < duration_ms and not quiet_from <= r[0] < timed_from_ms]
    recs.sort(key=lambda r: (r[0], r[2], r[3], r[10] if r[10] != "" else 0))
    return recs


def write(recs, path):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\t".join(COLUMNS) + "\n")
        for r in recs:
            f.write("\t".join(str(x) for x in r) + "\n")


def as_dicts(recs):
    return [dict(zip(COLUMNS, r)) for r in recs]
