"""Arithmetic of the benchmark: turns the harness's raw measurements into
the end-to-end and per-layer metrics. Pure functions, tested by
test_benchstats.py."""

import math
import statistics

# Percentiles considered for a timing's tail, lowest first.
LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs)


def tail_percentile(xs, min_beyond=10):
    """Highest ladder percentile with at least `min_beyond` samples beyond
    it, as (percentile, nearest-rank value); None when even the median has
    fewer than `min_beyond` samples above it."""
    s = sorted(xs)
    n = len(s)
    best = None
    for p in LADDER:
        rank = math.ceil(p / 100.0 * n)
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, s[rank - 1])
    return best


def ratio(num, den):
    """num/den; a layer a workload bypasses has an empty base and reads 0."""
    return num / den if den else 0.0


def items_per_s(calls):
    """Input items of the successful job calls per second of their summed
    wall time."""
    ok = [c for c in calls if c["ok"]]
    return ratio(sum(c["items"] for c in ok), sum(c["wall_s"] for c in ok))


def self_times(prefixes):
    """Median duration per prefix name, minus its parent prefix's median.
    `prefixes` holds {"name", "parent", "dur_s", "rows"}; a name may repeat
    (one entry per repetition); an empty parent means a root prefix."""
    by_name = {}
    for p in prefixes:
        by_name.setdefault(p["name"], []).append(p)
    med = {k: median([p["dur_s"] for p in v]) for k, v in by_name.items()}
    rows = {k: v[-1]["rows"] for k, v in by_name.items()}
    out = {}
    for k, v in by_name.items():
        parent = v[0]["parent"]
        out[k] = med[k] - (med[parent] if parent else 0.0)
    return out, rows


def children(spans, parent_id, prefix=""):
    return [s for s in spans
            if s["parent"] == parent_id and s["name"].startswith(prefix)]


def dur_s(span):
    return (span["end_ms"] - span["start_ms"]) / 1000.0


def end_to_end(raw):
    """End-to-end metrics of an untraced run, each as
    {"value", "n", "tail"} (tail = tail_percentile or None)."""
    su = raw["setup"]
    setup_s = su["session_s"] + median(su["gen_s"]) + su["warmup_s"]
    calls = raw["calls"]
    cold = [c["wall_s"] for c in calls if c["ok"] and c["dump"] == 0]
    warm = [c["wall_s"] for c in calls if c["ok"] and c["dump"] > 0]
    per_item = [c["table_bytes"] / c["items"] for c in raw["cycles"]]

    def timing(xs):
        return {"value": median(xs), "n": len(xs), "tail": tail_percentile(xs)}

    def single(x, n=1):
        return {"value": x, "n": n, "tail": None}

    return {
        "setup_s": single(setup_s),
        "items_per_s": single(items_per_s(calls), len(calls)),
        "cold_batch_s": timing(cold),
        "warm_batch_s": timing(warm),
        "table_bytes_per_item": timing(per_item),
    }


def peak_mem_mb(mem):
    """Median over the job calls of each call's peak heap, plus the run's
    peaks of off-heap execution memory and direct buffers, in MB."""
    return (median(mem["call_heap_bytes"]) + mem["offheap_bytes"] +
            mem["direct_bytes"]) / 2.0 ** 20


def outcome(raw):
    """(attempted, failed): job calls plus output checks."""
    attempted = len(raw["calls"]) + len(raw["checks"])
    failed = (sum(1 for c in raw["calls"] if not c["ok"]) +
              sum(1 for c in raw["checks"] if not c["ok"]))
    return attempted, failed


FRONTIER_PHASES = ("pin", "batches_write", "seen_delta", "cuckoo_update",
                   "cuckoo_compact")


def per_layer(raw):
    """Per-layer metrics of a traced run (name -> value). Layers the
    workload bypasses read 0."""
    t = raw["trace"]
    spans = t["spans"]
    by_id = {s["id"]: s for s in spans}
    m = {}
    calls = t["calls"]
    n = len(calls)

    def mean(xs):
        return sum(xs) / n if n else 0.0

    walls, driver, commit = [], [], []
    phase = {p: [] for p in FRONTIER_PHASES}
    compactions = 0
    stages = {}
    for c in calls:
        call = by_id[c["span"]]
        wall = dur_s(call)
        acts = children(spans, call["id"], "action:")
        act_s = sum(dur_s(a) for a in acts)
        names = [a["name"][len("action:"):] for a in acts]
        tail = (call["end_ms"] - max(a["end_ms"] for a in acts)) / 1000.0 if acts else 0.0
        call_stages = children(spans, call["id"], "stage:")
        for st in call_stages:
            stages.setdefault(st["name"][len("stage:"):], []).append(st)
        frontier = not call_stages
        commit.append(tail if frontier else 0.0)
        walls.append(wall)
        driver.append(wall - act_s - commit[-1])
        for p in FRONTIER_PHASES:
            phase[p].append(sum(dur_s(a) for a, nm in zip(acts, names)
                                if frontier and nm == p))
        compactions += names.count("cuckoo_compact")

    m["job.actions"] = mean([c["actions"] for c in calls])
    m["job.driver_s"] = mean(driver)
    for p in FRONTIER_PHASES:
        m[f"frontierjob.{p}_s"] = mean(phase[p])
    m["frontierjob.compactions"] = float(compactions)
    m["frontierjob.commit_s"] = mean(commit)

    for st in ("filter", "minhash", "dedup", "frequent", "renumber"):
        m[f"corpusjob.{st}_s"] = mean([dur_s(s) for s in stages.get(st, [])])
    for st in ("filter", "dedup"):
        ss = stages.get(st, [])
        m[f"corpusjob.{st}_keep_ratio"] = ratio(
            sum(s["attrs"]["rows_out"] for s in ss),
            sum(s["attrs"]["rows_in"] for s in ss))

    prefixes = [{"name": s["name"][len("prefix:"):], "parent": s["attrs"]["parent"],
                 "dur_s": dur_s(s), "rows": s["attrs"]["rows"]}
                for s in spans if s["name"].startswith("prefix:")]
    self_s, rows = self_times(prefixes)

    def st(name):
        return self_s.get(name, 0.0)

    def rr(num, den):
        return ratio(rows.get(num, 0), rows.get(den, 0))

    gate = "robots" if "robots" in rows else "winners"
    m["index.self_s"] = st("index")
    m["index.keep_ratio"] = rr("index", "raw")
    m["urldedup.antijoin_self_s"] = st("antijoin")
    m["urldedup.new_ratio"] = rr("antijoin", "index")
    m["urldedup.winners_self_s"] = st("winners")
    m["urldedup.winner_ratio"] = rr("winners", "antijoin")
    m["urldedup.order_self_s"] = st("order")
    m["frontier.rank_self_s"] = st("rank")
    m["frontier.quota_pass_ratio"] = rr("rank", gate)
    m["frontier.robots_rules_s"] = st("robots_rules")
    m["frontier.robots_self_s"] = st("robots")
    m["frontier.robots_pass_ratio"] = rr("robots", "winners")

    v = t["values"]
    for k in ("state.cuckoo_insert_ns", "state.cuckoo_lookup_ns",
              "state.cuckoo_segments_max", "state.cuckoo_bytes",
              "state.seen_segments", "state.chain_read_s",
              "minhash.docs_per_s"):
        m[k] = float(v.get(k, 0.0))
    m["state.cuckoo_fp_rate"] = ratio(v.get("state.cuckoo_false_positives", 0),
                                      v.get("state.cuckoo_absent_probes", 0))

    m["minhash.self_s"] = st("minhash")
    m["lsh.cross_self_s"] = st("lsh_cross")
    m["lsh.self_dedup_self_s"] = st("lsh_self")
    m["lsh.keep_ratio"] = rr("lsh_self", "minhash_out")
    m["frequent.collect_self_s"] = st("frequent_collect")
    m["frequent.filter_self_s"] = st("frequent_filter")
    m["frequent.paragraph_keep_ratio"] = ratio(
        v.get("frequent.paragraphs_out", 0), v.get("frequent.paragraphs_in", 0))

    def counter(k):
        return [c["counters"].get(k, 0.0) for c in calls]

    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "stages", "tasks", "task_failures"):
        m[f"spark.{k}"] = mean(counter(k))
    m["spark.exchanges"] = mean([c["exchanges"] for c in calls])
    m["spark.task_skew"] = max([c["task_skew"] for c in calls], default=0.0)
    run_s = sum(counter("executor_run_ms")) / 1000.0
    m["spark.executor_run_s"] = ratio(run_s, n)
    m["spark.executor_cpu_s"] = ratio(sum(counter("executor_cpu_ns")) / 1e9, n)
    m["spark.gc_s"] = ratio(sum(counter("gc_ms")) / 1000.0, n)
    m["spark.busy_ratio"] = ratio(run_s, sum(walls) * t["cores"])
    m["trace.overhead_s"] = t["traced_cycle_s"] - t["untraced_cycle_s"]
    m["jvm.peak_mem_mb"] = peak_mem_mb(raw["peak_mem"])
    return m
