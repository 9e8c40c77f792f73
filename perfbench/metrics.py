"""Arithmetic of the benchmark: turns one run's observations (`raw.json`,
written by the harness) into its metrics. Pure Python, no Spark, so the
self-tests in `test_metrics.py` cover it with synthetic samples.
"""
import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it

# Workload -> prefix of the op kinds whose latency is the workload's
# `op_p50_s`, and of the op kinds whose items are its `items_per_s`.
PRIMARY = {
    "sql_gateway": ("sql.", "sql."),
    "lake_ingest": ("lake.read.", "lake.commit."),
    "curation_stream": ("pipe.", "pipe."),
}

# Span name prefix -> layer (the repo module the span's call goes into).
LAYERS = {"gateway": "gateway", "plans": "plans", "catalog": "catalog", "lake": "lake",
          "scan": "scan", "ops": "operators", "dedup": "operators", "stream": "streaming",
          "spark": "spark"}
SELF_METRIC = {"gateway": "gateway.self_s", "plans": "plans.self_s", "catalog": "catalog.self_s",
               "lake": "lake.self_s", "scan": "scan.self_s", "operators": "ops.self_s",
               "streaming": "stream.self_s", "spark": "spark.self_s"}

OPS_VERBS = ["dedup_ngram", "dedup_clusters", "dedup_canonical", "ann_ivf"]
LAKE_KINDS = ["append", "merge", "delete", "update", "delete_mor", "update_mor", "compact"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q, min_beyond=MIN_BEYOND):
    """The q-quantile (0 < q < 1, nearest rank) of xs, or None unless at
    least `min_beyond` samples lie strictly above the rank it picks.
    Returns (value, n_samples, n_beyond)."""
    n = len(xs)
    if n == 0:
        return None, 0, 0
    s = sorted(xs)
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    beyond = n - rank
    return (s[rank - 1] if beyond >= min_beyond else None), n, beyond


def ratio(num, den):
    """A ratio with its base, as printed: value plus numerator and denominator."""
    return {"value": (num / den) if den else 0.0, "num": num, "den": den}


def count_failures(ops, counters, check_results):
    """attempted = timed operations + result checks; failed = operations
    that raised + checks that found a wrong or missing result."""
    op_fail = sum(1 for o in ops if not o["ok"])
    attempted = len(ops) + int(counters.get("check.attempted", 0)) + len(check_results)
    failed = op_fail + int(counters.get("check.failed", 0)) + sum(1 for r in check_results if not r["ok"])
    return attempted, failed


def by_kind(ops):
    """Per op kind: count, failures and median latency of the ok ones."""
    out = {}
    for o in ops:
        out.setdefault(o["kind"], []).append(o)
    return {k: {"n": len(v), "failed": sum(1 for o in v if not o["ok"]),
                "p50_s": median([o["t1"] - o["t0"] for o in v if o["ok"]])} for k, v in sorted(out.items())}


def verb_table(raw):
    """Per span name that ran Spark jobs: calls, median seconds, jobs per call
    and core use (executor run time / (span time x cores)) — the traced
    run's form of the per-verb build/exec/jobs/core-use baseline."""
    out = {}
    for name, t in raw.get("tallies", {}).items():
        durs = _span_durations(raw["spans"], name)
        if not durs or not t.get("jobs"):
            continue
        out[name] = {"calls": len(durs), "median_s": median(durs), "jobs_per_call": t["jobs"] / len(durs),
                     "core_use": (t["run_ms"] / 1e3) / (sum(durs) * raw["cores"]) if sum(durs) > 0 else 0.0}
    return dict(sorted(out.items()))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """Per-layer self time: each span's duration minus the part of its
    interval that its children cover (children clipped to the parent;
    overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["t1"] - s["t0"]) - union_length(kids)
        layer = LAYERS.get(s["name"].split(".", 1)[0], "other")
        out[layer] = out.get(layer, 0.0) + max(0.0, own)
    return out


def end_to_end(raw):
    """The end-to-end metrics of one run (tracing off)."""
    lat_prefix, thr_prefix = PRIMARY[raw["workload"]]
    ops = raw["ops"]
    lat = [o["t1"] - o["t0"] for o in ops if o["kind"].startswith(lat_prefix) and o["ok"]]
    thr = [o for o in ops if o["kind"].startswith(thr_prefix)]
    wall = (max(o["t1"] for o in thr) - min(o["t0"] for o in thr)) if thr else 0.0
    items = sum(o["items"] for o in thr)
    return {
        "setup_s": median(raw["samples"].get("setup_s", [])),
        "op_p50_s": median(lat),
        "items_per_s": items / wall if wall > 0 else 0.0,
    }, {"op_samples": len(lat), "items": items, "items_wall_s": wall}


def _span_durations(spans, name):
    return [s["t1"] - s["t0"] for s in spans if s["name"] == name]


def per_layer(raw, check_results=()):
    """Every per-layer metric; a metric of a layer the workload does not
    exercise reads 0."""
    wl = raw["workload"]
    spans, samples, counters = raw["spans"], raw["samples"], raw["counters"]
    tallies = raw.get("tallies", {})
    ops = raw["ops"]
    lat_prefix, _ = PRIMARY[wl]
    prim = [o for o in ops if o["kind"].startswith(lat_prefix)]
    n_prim = max(1, len(prim))
    m = {}
    sd = lambda name: median(_span_durations(spans, name))
    smed = lambda name: median(samples.get(name, []))
    c = lambda name: counters.get(name, 0.0)

    win = raw.get("window")
    if win:
        a, b = win["start"], win["end"]
        d = {k: b[k] - a[k] for k in b}
        wall = d["t"]
        m["spark.jobs"] = d["jobs"] / n_prim
        m["spark.tasks"] = d["tasks"] / n_prim
        m["spark.core_util"] = (d["run_ms"] / 1e3) / (wall * raw["cores"]) if wall > 0 else 0.0
        m["spark.shuffle_write_bytes"] = d["shuffle_write_bytes"] / n_prim
        m["spark.shuffle_read_bytes"] = d["shuffle_read_bytes"] / n_prim
        m["spark.spill_bytes"] = d["spill_bytes"] / n_prim
        m["spark.gc_s"] = d["gc_ms"] / 1e3
        if wl == "sql_gateway":
            m["gateway.jobs_per_stmt"] = d["jobs"] / n_prim
    m["spark.storage_mb"] = raw.get("storage_mb", 0.0)
    m["retained_mb"] = raw.get("heap_end_mb", 0.0) - raw.get("heap_start_mb", 0.0) + raw.get("storage_mb", 0.0)

    for name in ["gateway.execute", "gateway.fetch", "plans.analyze", "plans.optimize", "plans.plan",
                 "catalog.load_table", "lake.snapshot", "scan.exec"]:
        m[name + "_s"] = sd(name)
    m["gateway.overhead_s"] = smed("gateway.overhead_s")
    m["plans.mv_routed_share"] = ratio(c("plans.mv_routed"), c("plans.mv_eligible"))["value"]

    for k in LAKE_KINDS:
        m[f"lake.{k}_s"] = sd(f"lake.{k}")
    commits = [o for o in ops if o["kind"].startswith("lake.commit.")]
    m["lake.commit_p50_s"] = median([o["t1"] - o["t0"] for o in commits if o["ok"]])
    reads = [o for o in ops if o["kind"].startswith("lake.read.") and o["ok"]]
    m["lake.read_p90_s"] = percentile([o["t1"] - o["t0"] for o in reads], 0.9)[0] or 0.0
    m["lake.files_written_per_commit"] = smed("lake.files_written_per_commit")
    rewritten = sum(t.get("records_written", 0) for k, t in tallies.items()
                    if k.startswith("lake.") and k != "lake.compact")
    m["lake.rows_rewritten_per_row_changed"] = ratio(rewritten, c("lake.rows_changed"))["value"]
    n_compact = len(_span_durations(spans, "lake.compact"))
    m["lake.compact_bytes_rewritten"] = (tallies.get("lake.compact", {}).get("bytes_written", 0) / n_compact
                                         if n_compact else 0.0)
    compactions = [(o["t0"], o["t1"]) for o in commits if o["kind"] == "lake.commit.compact"]
    during = [o["t1"] - o["t0"] for o in reads if any(o["t0"] < b and o["t1"] > a for a, b in compactions)]
    outside = [o["t1"] - o["t0"] for o in reads if not any(o["t0"] < b and o["t1"] > a for a, b in compactions)]
    m["lake.read_stall_s"] = median(during) - median(outside) if during and outside else 0.0
    lake = raw.get("lake", {})
    m["lake.write_amp"] = ratio(lake.get("bytes_written", 0), lake.get("change_bytes", 0))["value"]
    m["lake.space_amp"] = ratio(lake.get("stored_bytes", 0), lake.get("live_bytes", 0))["value"]

    m["scan.files_read_share"] = ratio(c("scan.files_read"), c("scan.files_live"))["value"]
    m["scan.row_path_share"] = ratio(c("scan.row_path"), c("scan.reads"))["value"]

    for v in OPS_VERBS:
        m[f"ops.{v}.build_s"] = sd(f"ops.{v}.build")
        m[f"ops.{v}.exec_s"] = sd(f"ops.{v}.exec")
        jobs = sum(tallies.get(f"ops.{v}.{p}", {}).get("jobs", 0) for p in ("build", "exec"))
        runs = len(_span_durations(spans, f"ops.{v}.build"))
        m[f"ops.{v}.jobs"] = jobs / runs if runs else 0.0
    rdd = samples.get("ops.persisted_rdds", [])
    m["ops.persisted_rdds"] = sum(rdd) / len(rdd) if rdd else 0.0
    m["dedup.candidates_per_pair"] = smed("dedup.candidates_per_pair")

    pipe = [o for o in ops if o["kind"].startswith("pipe.") and o["ok"]]
    m["ops.verb_p50_s"] = median([o["t1"] - o["t0"] for o in pipe if not o["kind"].startswith("pipe.stream_")])
    m["stream.query_p50_s"] = median([o["t1"] - o["t0"] for o in pipe if o["kind"].startswith("pipe.stream_")])
    n_stream = len([o for o in ops if o["kind"].startswith("pipe.stream_")])
    m["stream.batches"] = c("stream.batches") / n_stream if n_stream else 0.0
    m["stream.no_data_batches"] = c("stream.no_data_batches") / n_stream if n_stream else 0.0
    queries = [s for s in spans if s["name"] == "stream.query"]
    batch_kids = {}
    for s in spans:
        if s["name"] == "stream.batch":
            batch_kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    m["stream.start_s"] = median([(q["t1"] - q["t0"]) - union_length(batch_kids.get(q["id"], []))
                                  for q in queries])
    for k in ["batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms", "state_rows", "state_mem_bytes"]:
        m[f"stream.{k}"] = smed(f"stream.{k}")

    st = self_times(spans)
    for layer, name in SELF_METRIC.items():
        m[name] = st.get(layer, 0.0) / n_prim

    lat = [o["t1"] - o["t0"] for o in prim if o["ok"]]
    m["op_p90_s"] = percentile(lat, 0.9)[0] or 0.0
    m["trace.op_p50_s"] = median(lat)
    attempted, failed = count_failures(ops, counters, check_results)
    m["failed_share"] = ratio(failed, attempted)["value"]
    return m


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) as Python's quantiles give them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, ((q3 - q1) / med) if med else float("inf")
