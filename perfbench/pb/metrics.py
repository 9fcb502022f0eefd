"""End-to-end and per-layer metrics from the benchmark JVM's result record.

End-to-end metrics apply to every workload: a stream's "query" is one
micro-batch with input of a layer query and its "freshness" is input-to-sink-commit
time; the batch suite's query is one call of a declared query, whose wall
time is also its freshness (what one ADS caller waits for)."""
import collections
import os

from pb.stats import percentile, tail

STREAM_QUERIES = ["StreamOps.newUserFixTws", "StreamOps.dynamicRoute", "StreamOps.dimUpsert",
                  "StreamOps.uvDedupTws", "Cep.patternTws", "StreamOps.intervalJoin",
                  "StreamOps.windowedStats", "StreamOps.productStats"]
STATEFUL = {"StreamOps.newUserFixTws", "StreamOps.uvDedupTws", "Cep.patternTws",
            "StreamOps.intervalJoin", "StreamOps.windowedStats", "StreamOps.productStats"}
WATERMARKED = {"Cep.patternTws", "StreamOps.intervalJoin", "StreamOps.windowedStats",
               "StreamOps.productStats"}
SETS = ("core", "corpus")
MB = 1048576.0
TAIL_WANT = 90.0


def timed_batches(res):
    """Micro-batches with input rows that started between the first timed
    input and the end of the flush: the work the topology did for the
    timed input, warm-up and idle batches left out."""
    return [p for p in res["progress"]
            if res["timed_start_ms"] <= p["ts_ms"] <= res["flushed_ms"] and p["rows_in"] > 0]


def end_to_end(workload, res, outcome, launch_s):
    setup = res.get("setup_end_ms", res["timed_start_ms"]) / 1000.0 - launch_s
    m = {"setup_s": setup, "peak_rss_mb": res["peak_rss_mb"]}
    if workload == "batch_suite":
        # every timed call is one a caller waits for; one pass of the suite
        # takes each query at its fastest timed call
        walls = [q["wall_ms"] / 1000.0 for q in res["queries"]]
        fresh = walls
        fastest = {}
        for q in res["queries"]:
            fastest[q["name"]] = min(fastest.get(q["name"], q["wall_ms"]), q["wall_ms"])
        total = sum(fastest.values()) / 1000.0
    else:
        walls = [p["trigger_ms"] / 1000.0 for p in timed_batches(res)]
        fresh = outcome["fresh"]
        # as for the batch suite (whose queries run one after another): the
        # wall time from the first timed input until every layer has
        # processed all of it
        total = (res["flushed_ms"] - res["timed_start_ms"]) / 1000.0
    # at most p90: above it the percentile moves with the run's sample
    # count, and a stream's freshness samples come in commit groups, so the
    # tail would jump between groups from seed to seed
    rank, fresh_tail, _ = tail(fresh, want=TAIL_WANT)
    if rank is None:
        raise ValueError("%d freshness samples: the tail needs more than ten" % len(fresh))
    m["fresh_p50_s"] = percentile(fresh, 50)
    m["fresh_tail_s"] = fresh_tail
    # a mean, not a median: a stream's micro-batch times are spread over
    # layers whose fixed costs differ severalfold, and a median of so few
    # batches jumps between layers from run to run
    m["query_mean_s"] = sum(walls) / len(walls)
    m["batch_total_s"] = total
    rule_rank, rule_tail, _ = tail(fresh)
    m["_samples"] = {"fresh": len(fresh), "fresh_tail_percentile": rank, "query": len(walls),
                     "fresh_uncapped_tail": "p%s = %.3f s" % (rule_rank, rule_tail)}
    return m


def drain_eps(res):
    """Generated records over the seconds from the first layer's start to
    the last sink commit."""
    last = max(c["end_ms"] for c in res["commits"])
    return res["posted"] / ((last - res["timed_start_ms"]) / 1000.0)


def _dir_mb(path):
    total = 0
    for d, _, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def _stream_layers(res, outcome):
    out = {}
    late = res.get("gen_late_ms") or []
    post = res.get("post_ms") or []
    out["gen.events"] = res.get("posted", 0)
    out["gen.late_p99_ms"] = tail(late)[1] if late else 0.0
    out["LogCollector.post_p50_ms"] = percentile(post, 50) if post else 0.0
    out["LogCollector.post_p99_ms"] = tail(post)[1] if post else 0.0
    by_q = collections.defaultdict(list)
    for b in res.get("batches") or res["progress"]:
        by_q[b["query"]].append(b)
    ingest = by_q.get("LogCollector.ingestToTopic", []) + by_q.get("LogCollector.ingestToTopic.db", [])
    data = [b for b in ingest if b["rows_in"] > 0]
    out["LogCollector.ingestToTopic.batches"] = len(data)
    out["LogCollector.ingestToTopic.batch_p50_ms"] = percentile([b["trigger_ms"] for b in data], 50) \
        if data else 0.0
    out["LogCollector.ingestToTopic.rows_in"] = sum(b["rows_in"] for b in ingest)

    spans = res.get("spans") or []
    produce = [s for s in spans if s["name"] == "FileTopics.produce"]
    # produce calls made by the benchmark (DWD routes) plus the collector's
    # own produce, one per ingest micro-batch with rows
    out["FileTopics.produce.calls"] = len(produce) + len(data)
    out["FileTopics.produce.s"] = (sum(s["end_ms"] - s["start_ms"] for s in produce)
                                   + sum(b["add_batch_ms"] for b in data)) / 1000.0
    out["FileTopics.produce.records"] = sum(res.get("topic_records", {}).values())
    out["FileTopics.mb_written"] = _dir_mb(res.get("broker_dir"))
    out["FileTopics.lag_end"] = res.get("ods_lag_end", 0)

    groups = res.get("job_groups") or {}
    names = res.get("run_names") or {}
    by_name = collections.defaultdict(lambda: collections.Counter())
    for run, name in names.items():
        for k, v in (groups.get(run) or {}).items():
            by_name[name][k] += v
    for q in STREAM_QUERIES:
        bs = by_q.get(q, [])
        n = len(bs)
        last = bs[-1] if bs else None
        pre = q + "."
        out[pre + "batches"] = n
        out[pre + "rows_in"] = sum(b["rows_in"] for b in bs)
        out[pre + "batch_p50_ms"] = percentile([b["trigger_ms"] for b in bs], 50) if bs else 0.0
        out[pre + "planning_s"] = sum(b["planning_ms"] for b in bs) / 1000.0
        out[pre + "commit_s"] = sum(b["commit_ms"] for b in bs) / 1000.0
        out[pre + "addBatch_s"] = sum(b["add_batch_ms"] for b in bs) / 1000.0
        out[pre + "jobs_per_batch"] = by_name[q]["jobs"] / n if n else 0.0
        out[pre + "task_s"] = by_name[q]["task_s"]
        out[pre + "shuffle_mb"] = by_name[q]["shuffle_mb"]
        if q in STATEFUL:
            out[pre + "state_rows_end"] = last["state_rows"] if last else 0
            out[pre + "state_mb_end"] = (last["state_bytes"] + last["rocks_sst_bytes"]) / MB \
                if last else 0.0
            out[pre + "rocks_commit_ms"] = sum(b["rocks_commit_ms"] for b in bs)
        if q in WATERMARKED:
            out[pre + "late_dropped"] = sum(b["dropped"] for b in bs)
    commits = [s for s in spans if s["name"] == "ExactlyOnceSink.commit"]
    jdbc = [s for s in spans if s["name"] == "JdbcBatchSink.writeBatch"]
    rows = outcome["sink_rows"]
    out["ExactlyOnceSink.commit.calls"] = len(commits)
    out["ExactlyOnceSink.commit.s"] = sum(s["end_ms"] - s["start_ms"] for s in commits) / 1000.0
    out["ExactlyOnceSink.commit.rows"] = sum(v for k, v in rows.items() if k != "dws_product")
    out["JdbcBatchSink.commit.calls"] = len(jdbc)
    out["JdbcBatchSink.commit.s"] = sum(s["end_ms"] - s["start_ms"] for s in jdbc) / 1000.0
    out["JdbcBatchSink.commit.rows"] = rows.get("dws_product", 0)
    return out


def _batch_layers(res):
    out = {}
    groups = res.get("job_groups") or {}
    for st in SETS:
        qs = [q for q in res["queries"] if q["set"] == st]
        pre = "SparkEntry.%s." % st
        out[pre + "construct_s"] = sum(q["construct_ms"] for q in qs) / 1000.0
        out[pre + "plan_s"] = sum(q["plan_ms"] for q in qs) / 1000.0
        out[pre + "exec_s"] = sum(q["exec_ms"] for q in qs) / 1000.0
        out[pre + "total_s"] = sum(q["wall_ms"] for q in qs) / 1000.0
        agg = collections.Counter()
        # a query's job group holds the jobs of both its timed calls
        for name in {q["name"] for q in qs}:
            for k, v in (groups.get(name) or {}).items():
                agg[k] += v
        for k in ("jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "scan_mb"):
            out["spark.%s.%s" % (st, k)] = agg[k]
    return out


# Figures the layer report prints beside the declared metrics. They are
# fixed by the input (or are the trace's own cost), so no optimisation of a
# layer moves them, and they are not declared.
REPORTED_UNITS = {"gen.events": "count", "LogCollector.ingestToTopic.rows_in": "count",
                  "FileTopics.produce.records": "count", "ExactlyOnceSink.commit.rows": "count",
                  "JdbcBatchSink.commit.rows": "count", "trace.bookkeeping_s": "s"}


def layer_figures(workload, res, outcome):
    """Every per-layer figure the run yields, declared or only reported."""
    got = _batch_layers(res) if workload == "batch_suite" else _stream_layers(res, outcome)
    got["jvm.gc_s"] = res["gc_s"]
    got["trace.bookkeeping_s"] = res.get("bookkeeping_s", 0.0)
    return got


def per_layer(figures, declared):
    """Every declared per-layer metric; 0 where the workload does not run
    that layer."""
    return {m["name"]: figures.get(m["name"], 0) for m in declared["per_layer"]}
