"""Output checks. Stream sinks are compared against a batch reference
computed over the generator's own input; the batch suite is compared
against each query's oracle SQL run in DuckDB. Every mismatch is counted
and listed, never skipped."""
import collections
import glob
import hashlib
import json
import os

PAGE = ("view", "purchase")
WINDOW_MS = 10_000
CEP_WITHIN_MS = 10_000
JOIN_BOUND_MS = 5_000
SETTLE_MARGIN_MS = 1_000


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.mismatches = []
        self.fresh = []          # seconds from input to sink commit
        self.sink_rows = collections.Counter()

    def expect(self, n=1):
        self.attempted += n

    def miss(self, n, what):
        self.failed += n
        self.mismatches.append(what)

    def result(self):
        return {"attempted": max(1, self.attempted), "failed": self.failed,
                "mismatches": self.mismatches, "fresh": self.fresh,
                "sink_rows": dict(self.sink_rows)}


# --- stream workloads -------------------------------------------------------

def read_sink(sink_dir, name):
    """Committed rows of an ExactlyOnceSink output, each with its batch id.
    Timestamps come back as epoch milliseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = []
    for bdir in sorted(glob.glob(os.path.join(sink_dir, name, "batch=*"))):
        batch = int(bdir.rsplit("=", 1)[1])
        for f in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
            t = pq.read_table(f)
            cols = {}
            for i, field in enumerate(t.schema):
                c = t.column(i)
                if pa.types.is_timestamp(field.type):
                    c = c.cast(pa.timestamp("us")).cast(pa.int64())
                    cols[field.name] = [None if v is None else v // 1000 for v in c.to_pylist()]
                else:
                    cols[field.name] = c.to_pylist()
            for j in range(t.num_rows):
                r = {k: v[j] for k, v in cols.items()}
                r["_batch"] = batch
                rows.append(r)
    return rows


def _day(ms):
    return ms // 86_400_000


def _bounces(events, within=CEP_WITHIN_MS):
    """Reference of begin(view).times(2).consecutive().within(10 s) with
    select = first start and timeout = the pending start, per user in
    event-time order. Yields (start event, decision time, newest
    contributing time)."""
    out = []
    by_user = collections.defaultdict(list)
    for e in events:
        by_user[e["user_id"]].append(e)
    for evs in by_user.values():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        live = []
        for e in evs:
            alive = []
            for head in live:
                if e["ts"] - head["ts"] > within:
                    out.append((head, e["ts"], head["ts"] + within))
                else:
                    alive.append(head)
            nxt = []
            for head in alive:
                if e["event_type"] == "view":
                    out.append((head, e["ts"], e["send"]))
            if e["event_type"] == "view":
                nxt.append(e)
            live = nxt
        for head in live:
            out.append((head, head["ts"] + within + 1, head["ts"] + within))
    return out


def _final_watermarks(progress):
    wm = {}
    for p in progress:
        if p["watermark_ms"] >= 0:
            wm[p["query"]] = max(wm.get(p["query"], -1), p["watermark_ms"])
    return wm


def _dropped(progress, query):
    return sum(p["dropped"] for p in progress if p["query"] == query)


def streams(workload, res, records, params):
    t = Tally()
    origin = res["origin_ms"]
    steady = workload == "stream_steady"
    late_ms = params["common"]["late_ms"]["value"]
    timed_start = res["timed_start_ms"]
    commit = {(c["sink"], c["batch"]): c["end_ms"] for c in res["commits"]}

    def fresh_from(sink, batch, newest_abs):
        end = commit.get((sink, batch))
        if end is None:
            return
        if steady:
            if newest_abs >= timed_start:
                t.fresh.append((end - newest_abs) / 1000.0)
        else:
            t.fresh.append((end - timed_start) / 1000.0)

    log = []
    facts = []
    dims0 = {}
    held = collections.defaultdict(set)   # every province a user held
    last_dim = {}                          # user -> (seq, op, province) of its newest change
    for r in records:
        if r["spool"] == "log":
            e = {"event_id": r["event_id"], "user_id": r["user_id"],
                 "event_type": r["event_type"], "value": r["value"],
                 "ts": origin + r["ts_ms"], "send": origin + r["send_ms"]}
            e["late"] = steady and (r["send_ms"] - r["ts_ms"]) >= late_ms
            log.append(e)
        elif r["table"] == "user_info":
            u = r["user_id"]
            if r["op"] == "insert":
                dims0[u] = r["province"]
            if r["op"] != "delete":
                held[u].add(r["province"])
            if r["seq"] > last_dim.get(u, (0,))[0]:
                last_dim[u] = (r["seq"], r["op"], r["province"])
        elif r["op"] != "delete":
            facts.append({"table": r["table"], "id": r["pk"], "user_id": r["user_id"],
                          "ts": origin + r["ts_ms"]})
    page = [e for e in log if e["event_type"] in PAGE]
    on_time = [e for e in page if not e["late"]]
    by_id = {e["event_id"]: e for e in log}
    progress = res["progress"]
    wm = _final_watermarks(progress)

    # every layer query read all of its input before the run stopped
    for line in res.get("behind", []):
        t.miss(1, "flush: " + line)

    # DWD: each routed topic holds every routed record exactly once
    routed = {"dwd_page_log": len(page),
              "dwd_start_log": sum(e["event_type"] == "signup" for e in log),
              "dwd_display_log": sum(e["event_type"] == "click" for e in log),
              "dwd_order_info": sum(f["table"] == "order_info" for f in facts),
              "dwd_order_detail": sum(f["table"] == "order_detail" for f in facts)}
    got_topics = res.get("topic_records", {})
    for topic, want in routed.items():
        t.expect(want)
        got = got_topics.get(topic, 0)
        if got != want:
            t.miss(abs(got - want), "%s: want %d records, got %d" % (topic, want, got))

    sink_dir = res["sink_dir"]

    # DWD dims: dimUpsert's final state serves each live user's newest
    # change, and no user whose newest change is a delete (its tombstone)
    served = {}
    t.expect(len(last_dim))
    for u, seq, province in res["dim_rows"]:
        if u in served or u not in last_dim:
            t.miss(1, "dim state: unexpected row for user %d" % u)
        served[u] = (seq, province)
    for u, (seq, op, province) in sorted(last_dim.items()):
        got_dim = served.get(u)
        if op == "delete":
            if got_dim is not None:
                t.miss(1, "dim state: user %d deleted at seq %d, still served as %s"
                       % (u, seq, got_dim))
        elif got_dim != (seq, province):
            t.miss(1, "dim state: user %d want seq=%d province=%s, got %s"
                   % (u, seq, province, got_dim))

    # DWM unique visit: one row per (user, UTC day) of page events
    rows = read_sink(sink_dir, "dwm_unique_visit")
    t.sink_rows["dwm_unique_visit"] = len(rows)
    want = {(e["user_id"], _day(e["ts"])) for e in page}
    got = collections.Counter()
    t.expect(len(want))
    for r in rows:
        key = (r["user_id"], _day(r["ts"]))
        got[key] += 1
        src = by_id.get(r["event_id"])
        if src is None or (src["user_id"], _day(src["ts"])) != key or key not in want:
            t.miss(1, "dwm_unique_visit: unexpected row %s" % (key,))
        elif got[key] == 1:
            fresh_from("dwm_unique_visit", r["_batch"], src["send"])
    for key in want:
        if got[key] == 0:
            t.miss(1, "dwm_unique_visit: missing %s" % (key,))
        elif got[key] > 1:
            t.miss(got[key] - 1, "dwm_unique_visit: %s emitted %d times" % (key, got[key]))

    # DWM user jump (CEP): settled starts only
    ref = _bounces(on_time)
    w = wm.get("Cep.patternTws", -1) - SETTLE_MARGIN_MS
    settled = collections.Counter(h["event_id"] for h, dec, _ in ref if dec <= w)
    newest = {h["event_id"]: nw for h, dec, nw in ref}
    rows = read_sink(sink_dir, "dwm_user_jump")
    t.sink_rows["dwm_user_jump"] = len(rows)
    got = collections.Counter()
    t.expect(sum(settled.values()))
    for r in rows:
        i = r["event_id"]
        if i not in newest:
            t.miss(1, "dwm_user_jump: unexpected start %d" % i)
            continue
        if i in settled:
            got[i] += 1
            if got[i] <= settled[i]:
                fresh_from("dwm_user_jump", r["_batch"], newest[i])
    for i, n in settled.items():
        if got[i] != n:
            t.miss(abs(got[i] - n), "dwm_user_jump: start %d want %d rows, got %d" % (i, n, got[i]))

    # DWM order wide: order x detail of one user within +-5 s
    orders = collections.defaultdict(list)
    details = collections.defaultdict(list)
    for f in facts:
        (orders if f["table"] == "order_info" else details)[f["user_id"]].append(f)
    want = collections.Counter()
    for u, os_ in orders.items():
        for o in os_:
            for d in details.get(u, ()):
                if abs(d["ts"] - o["ts"]) <= JOIN_BOUND_MS:
                    want[(o["id"], o["ts"], d["id"], d["ts"])] += 1
    rows = read_sink(sink_dir, "dwm_order_wide")
    t.sink_rows["dwm_order_wide"] = len(rows)
    got = collections.Counter()
    for r in rows:
        key = (r["l_id"], r["l_ts"], r["r_id"], r["r_ts"])
        got[key] += 1
        if got[key] <= want.get(key, 0):
            fresh_from("dwm_order_wide", r["_batch"], max(r["l_ts"], r["r_ts"]))
    t.expect(sum(want.values()))
    for key in set(want) | set(got):
        if got[key] != want[key]:
            t.miss(abs(got[key] - want[key]),
                   "dwm_order_wide: pair %s want %d got %d" % (key, want[key], got[key]))
    # the dim lookup: a province the order's user held during the run, or
    # none once the user was deleted or before dimUpsert's first version
    order_user = {f["id"]: f["user_id"] for f in facts if f["table"] == "order_info"}
    dim_ready = min((p["ts_ms"] + p["trigger_ms"] for p in progress
                     if p["query"] == "StreamOps.dimUpsert" and p["rows_in"] > 0),
                    default=float("inf"))
    join_start = {p["batch"]: p["ts_ms"] for p in progress
                  if p["query"] == "StreamOps.intervalJoin"}
    deleted = {u for u, (_, op, _) in last_dim.items() if op == "delete"}
    t.expect(len(rows))
    for r in rows:
        u = order_user.get(r["l_id"])
        p = r["province"]
        if p in held.get(u, ()):
            continue
        if p is None and (u in deleted or join_start.get(r["_batch"], float("inf")) < dim_ready):
            continue
        t.miss(1, "dwm_order_wide: order %s of user %s enriched with province %s, held %s"
               % (r["l_id"], u, p, sorted(held.get(u, ()))))

    # DWS visitor stats: 10 s windows per event type, closed windows only
    agg = {}
    for e in on_time:
        k = (e["ts"] // WINDOW_MS * WINDOW_MS, e["event_type"])
        a = agg.setdefault(k, {"n": 0, "cents": 0, "users": set(), "newest": 0})
        a["n"] += 1
        a["cents"] += round(float(e["value"]) * 100)
        a["users"].add(e["user_id"])
        a["newest"] = max(a["newest"], e["send"])
    w = wm.get("StreamOps.windowedStats", -1) - SETTLE_MARGIN_MS
    rows = read_sink(sink_dir, "dws_visitor")
    t.sink_rows["dws_visitor"] = len(rows)
    settled_keys = {k for k in agg if k[0] + WINDOW_MS <= w}
    t.expect(len(settled_keys))
    seen = collections.Counter()
    for r in rows:
        k = (r["stt"], r["event_type"])
        if k not in agg:
            t.miss(1, "dws_visitor: unexpected window %s" % (k,))
            continue
        if k not in settled_keys:
            continue
        seen[k] += 1
        a = agg[k]
        exact = len(a["users"])
        ok = (r["n"] == a["n"] and round(r["total_value"] * 100) == a["cents"]
              and abs(r["approx_users"] - exact) <= max(1, 0.1 * exact))
        if not ok or seen[k] > 1:
            t.miss(1, "dws_visitor: window %s want n=%d total=%.2f users=%d got n=%s total=%s users=%s"
                   % (k, a["n"], a["cents"] / 100, exact, r["n"], r["total_value"], r["approx_users"]))
        else:
            fresh_from("dws_visitor", r["_batch"], a["newest"])
    for k in settled_keys:
        if seen[k] == 0:
            t.miss(1, "dws_visitor: missing window %s" % (k,))

    # DWS product stats (JDBC sink): 10 s windows per user
    agg = {}
    for e in on_time:
        k = (e["ts"] // WINDOW_MS * WINDOW_MS, e["user_id"])
        a = agg.setdefault(k, {"pv": 0, "orders": 0, "cents": 0, "newest": 0})
        if e["event_type"] == "view":
            a["pv"] += 1
        else:
            a["orders"] += 1
            a["cents"] += round(float(e["value"]) * 100)
        a["newest"] = max(a["newest"], e["send"])
    w = wm.get("StreamOps.productStats", -1) - SETTLE_MARGIN_MS
    settled_keys = {k for k in agg if k[0] + WINDOW_MS <= w}
    t.expect(len(settled_keys))
    rows = res["product_rows"]
    t.sink_rows["dws_product"] = len(rows)
    seen = collections.Counter()
    for stt, edt, user, pv, n_orders, amount, province, batch in rows:
        k = (stt, user)
        if k not in agg:
            t.miss(1, "dws_product: unexpected row %s" % (k,))
            continue
        if k not in settled_keys:
            continue
        seen[k] += 1
        a = agg[k]
        ok = (pv == a["pv"] and n_orders == a["orders"] and round(amount * 100) == a["cents"]
              and province == dims0.get(user))
        if not ok or seen[k] > 1:
            t.miss(1, "dws_product: %s want pv=%d orders=%d amount=%.2f province=%s got %s %s %s %s"
                   % (k, a["pv"], a["orders"], a["cents"] / 100, dims0.get(user),
                      pv, n_orders, amount, province))
        else:
            fresh_from("dws_product", batch, a["newest"])
    for k in settled_keys:
        if seen[k] == 0:
            t.miss(1, "dws_product: missing %s" % (k,))

    # late rows: dropped by each watermarked operator, and only those. An
    # aggregation drops partial aggregates, so late rows of one group read
    # in one task count once: its count lies between the late groups and
    # the late rows.
    late_rows = [e for e in page if e["late"]]
    late = len(late_rows)
    window = lambda e: e["ts"] // WINDOW_MS
    expect_drop = {
        "Cep.patternTws": (late, late),
        "StreamOps.intervalJoin": (0, 0),
        "StreamOps.windowedStats": (len({(window(e), e["event_type"]) for e in late_rows}), late),
        "StreamOps.productStats": (len({(window(e), e["user_id"]) for e in late_rows}), late)}
    for q, (lo, hi) in expect_drop.items():
        got_n = _dropped(progress, q)
        t.expect(max(1, hi))
        if not lo <= got_n <= hi:
            t.miss(min(abs(got_n - lo), abs(got_n - hi)),
                   "%s: %d rows dropped by watermark, %d late rows in %d groups sent"
                   % (q, got_n, hi, lo))
    return t.result()


# --- batch suite ------------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """One comparable form for a cell from either engine."""
    import datetime
    import decimal
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: repr(r))
    return [columns[i] for i in order], out


def oracle_answers(data_dir, sql, cache_dir):
    """DuckDB answers per query, computed once per (data, oracle SQL) and
    cached, outside any timed region."""
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    h.update(json.dumps(sql, sort_keys=True).encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    answers = {}
    for name, q in sorted(sql.items()):
        try:
            cur = con.execute(q)
            cols = [d[0] for d in cur.description]
            cols, rows = _canon(cols, cur.fetchall())
            answers[name] = {"columns": cols, "rows": rows}
        except Exception as e:  # an oracle that fails is a mismatch, listed
            answers[name] = {"error": str(e)[:300]}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


def compare_result(name, got_cols, got_rows, want):
    """None when equal, else a one-line description of the first difference."""
    if "error" in want:
        return "oracle error: " + want["error"]
    cols, rows = _canon(got_cols, got_rows)
    rows = json.loads(json.dumps(rows))
    if cols != want["columns"]:
        return "columns want %s got %s" % (want["columns"], cols)
    if len(rows) != len(want["rows"]):
        return "rows want %d got %d" % (len(want["rows"]), len(rows))
    for i, (g, w) in enumerate(zip(rows, want["rows"])):
        if g != w:
            return "row %d want %s got %s" % (i, w, g)
    return None


def batch(res, results_path, data_dir, cache_dir):
    t = Tally()
    answers = oracle_answers(data_dir, res["oracle_sql"], cache_dir)
    got = {}
    with open(results_path) as f:
        for line in f:
            r = json.loads(line)
            cols = r["columns"]
            got[(r["name"], r["pass"])] = (cols, [[json.loads(x).get(c) for c in cols]
                                                  for x in r["rows"]])
    for q in res["queries"]:
        name = q["name"]
        t.expect()
        if q["error"] is not None:
            t.miss(1, "%s: failed: %s" % (name, q["error"]))
        elif name not in res["oracle_sql"]:
            t.miss(1, "%s: no oracle SQL to check against" % name)
        else:
            cols, rows = got[(name, q["pass"])]
            diff = compare_result(name, cols, rows, answers[name])
            if diff is not None:
                t.miss(1, "%s: %s" % (name, diff))
    return t.result()
