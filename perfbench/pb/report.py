"""Layer report of a traced run: per-layer self time, every per-layer
metric with its sample count, and the tracing overhead."""
import collections

from pb.metrics import REPORTED_UNITS
from pb.stats import tail

SINK_QUERY = {"dwm_unique_visit": "StreamOps.uvDedupTws", "dwm_user_jump": "Cep.patternTws",
              "dwm_order_wide": "StreamOps.intervalJoin", "dws_visitor": "StreamOps.windowedStats"}


def _owner(span):
    """The layer query whose micro-batch made this benchmark call."""
    a = span.get("attrs") or {}
    n = span["name"]
    if n == "FileTopics.produce":
        return "StreamOps.dynamicRoute" if a.get("topic", "").startswith("dwd_order") \
            else "StreamOps.newUserFixTws"
    if n == "ExactlyOnceSink.commit":
        return SINK_QUERY.get(a.get("sink"))
    if n == "JdbcBatchSink.writeBatch":
        return "StreamOps.productStats"
    if n == "StreamOps.latestDimState":
        return "StreamOps.intervalJoin"
    return None


def self_times(res):
    """Self time per layer in seconds: a span's (or micro-batch's)
    duration minus the part its child calls cover."""
    spans = res.get("spans") or []
    child_ms = collections.Counter()
    for s in spans:
        if s["parent"]:
            child_ms[s["parent"]] += s["end_ms"] - s["start_ms"]
    selft = collections.Counter()
    for s in spans:
        selft[_layer(s["name"])] += (s["end_ms"] - s["start_ms"]) - child_ms[s["id"]]
    # micro-batches: the benchmark calls made inside a batch are its children
    owned = collections.defaultdict(list)
    for s in spans:
        q = _owner(s)
        if q:
            owned[q].append((s["start_ms"], s["end_ms"]))
    for b in res.get("batches") or []:
        start, end = b["ts_ms"], b["ts_ms"] + b["trigger_ms"]
        inner = sum(max(0.0, min(e, end) - max(s, start)) for s, e in owned.get(b["query"], ()))
        selft[b["query"]] += max(0.0, (end - start) - inner)
    return {k: v / 1000.0 for k, v in selft.items()}


def _layer(name):
    return "SparkEntry.query" if name.startswith("query:") else name


def print_report(workload, res, figures, e2e, outcome, trace_path, declared):
    units = {m["name"]: m["unit"] for m in declared["per_layer"]}
    layer = {m["name"]: figures.get(m["name"], 0) for m in declared["per_layer"]}
    layer.update((k, figures.get(k, 0)) for k in REPORTED_UNITS)
    units.update(REPORTED_UNITS)
    wall = (res["end_ms"] - res["session_ready_ms"]) / 1000.0
    print("== layer report: %s (trace written to %s)" % (workload, trace_path))
    print("-- self time per layer (JVM wall after Spark start: %.2f s)" % wall)
    for name, s in sorted(self_times(res).items(), key=lambda kv: -kv[1]):
        print("   %-44s %9.3f s  %5.1f%% of wall" % (name, s, 100.0 * s / wall if wall else 0))
    samples = {
        "gen.late_p99_ms": res.get("gen_late_ms") or [],
        "LogCollector.post_p99_ms": res.get("post_ms") or [],
    }
    print("-- per-layer metrics")
    for name, v in layer.items():
        extra = ""
        if name in samples and samples[name]:
            q, _, n = tail(samples[name])
            extra = "  (p%s of n=%d by the tail rule)" % (q, n)
        elif name.endswith("_p50_ms") or name.endswith("batch_p50_ms"):
            extra = "  (median)"
        print("   %-44s %14.4f %s%s" % (name, float(v), units.get(name, ""), extra))
    print("-- end-to-end figures of this traced run (sample counts: %s)" % e2e.get("_samples"))
    for k, v in e2e.items():
        if not k.startswith("_"):
            print("   %-44s %14.4f" % (k, v))
    book = res.get("bookkeeping_s", 0.0)
    print("-- tracing overhead: %.4f s spent recording spans and listener events "
          "(%.2f%% of wall); compare batch_total_s with an untraced run of the same seed"
          % (book, 100.0 * book / wall if wall else 0))
    print("-- checks: %d attempted, %d failed" % (outcome["attempted"], outcome["failed"]))
