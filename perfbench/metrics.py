"""Metrics from a run's raw records (one JSON object per line, written by
the harness): end-to-end metrics from the untraced phase, per-layer metrics
from the traced phase, and the run artifact."""

import math
import statistics
from collections import defaultdict

# (name, unit); BENCHMARK.json lists the same names (test_bench checks).
END_TO_END = [
    ("setup_s", "s"),
    ("recommend_p50_ms", "ms"),
    ("qa_p50_ms", "ms"),
    ("geomean_ms", "ms"),
    ("requests_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]

REQUEST_LAYERS = [
    ("rank.score_build_ms", "ms"), ("rank.collect_ms", "ms"), ("rank.mmr_ms", "ms"),
    ("rank.candidates", "count"), ("qa.retrieve_build_ms", "ms"), ("qa.collect_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("scan.rows", "count"),
    ("scan.rows_per_result", "rows/row"), ("storage.cached_mb", "MB"),
    ("trace_overhead_frac", "frac"),
]

# graft.SparkEntry's modules, in registry order (perfbench.Suite.Modules).
MODULES = [
    "RelationalQueries", "TextQueries", "DedupQueries", "VectorQueries",
    "PipelineQueries", "EventQueries", "RankQueries", "ScaleQueries",
    "StatQueries", "AnalyticsQueries", "LayoutQueries", "CurationQueries",
    "SketchQueries", "GraphQueries", "PruneQueries", "SurfaceQueries",
    "QualityQueries", "EvalQueries", "RetrievalQueries", "MiningQueries",
]
MODULE_FIELDS = [("s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB")]
PER_LAYER = REQUEST_LAYERS + [(f"suite.{m}.{f}", u) for m in MODULES
                              for f, u in MODULE_FIELDS]

# On the suite, the registry queries that run the recommend and Q&A code.
RECOMMEND_QUERIES = ("q41_recommend_mmr",)
QA_QUERIES = ("q52_rag_retrieve",)
# They close every suite pass, after the other queries have warmed the JVM:
# five blocks of three Q&A runs and one recommend, so qa_p50_ms is a median
# of 15 runs and recommend_p50_ms of 5.
SUITE_TAIL = (QA_QUERIES * 3 + RECOMMEND_QUERIES) * 5

LADDER = (50, 75, 90, 95, 99, 99.9)
MB = 1024 * 1024


def tail_percentile(values, beyond=10):
    """The highest percentile of LADDER with at least `beyond` samples
    above it (nearest rank), as (percentile, value); None when even the
    median has fewer than `beyond` samples above it."""
    xs = sorted(values)
    best = None
    for p in LADDER:
        rank = math.ceil(round(p * len(xs) / 100, 9))
        if rank >= 1 and len(xs) - rank >= beyond:
            best = (p, xs[rank - 1])
    return best


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def kind_of(workload, op):
    if workload != "suite":
        return op["kind"]
    if op["name"] in RECOMMEND_QUERIES:
        return "recommend"
    if op["name"] in QA_QUERIES:
        return "qa"
    return "query"


def latencies(workload, ops, window_ms):
    """Latency per operation kind. A failed operation counts as taking the
    whole measured window, so it misses every latency limit."""
    out = defaultdict(list)
    for op in ops:
        ms = op["ms"] if op["ok"] else window_ms
        out[kind_of(workload, op)].append(ms)
        out["all"].append(ms)
    return out


def suite_geomean(ops, window_ms):
    """Geometric mean over the suite's queries of each query's median, so
    the repeated request-path queries weigh as much as any other."""
    by_name = defaultdict(list)
    for op in ops:
        by_name[op["name"]].append(op["ms"] if op["ok"] else window_ms)
    return geomean([statistics.median(xs) for xs in by_name.values()])


def kind_stats(lat):
    stats = {}
    for kind, xs in lat.items():
        tail = tail_percentile(xs)
        stats[kind] = {"n": len(xs), "p50_ms": statistics.median(xs), "max_ms": max(xs),
                       "tail": None if tail is None else {"percentile": tail[0], "ms": tail[1]}}
    return stats


def span_summary(spans):
    """Per span name: count, total and self time (duration minus the part
    its children cover; children of one span never overlap)."""
    child_ns = defaultdict(int)
    for s in spans:
        if s["parent"] >= 0:
            child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = defaultdict(lambda: {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        e = out[s["name"]]
        e["n"] += 1
        e["total_ms"] += d / 1e6
        e["self_ms"] += (d - child_ns[s["id"]]) / 1e6
    return dict(out)


def per_layer(workload, recs, untraced, traced, end):
    spans = [r for r in recs if r["type"] == "span"]
    counts = {r["req"]: r["values"] for r in recs if r["type"] == "counts"}
    kinds = {op["req"]: kind_of(workload, op) for op in traced}
    by = defaultdict(list)  # (span name) -> durations in ms
    for s in spans:
        by[s["name"]].append((s["end_ns"] - s["start_ns"]) / 1e6)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def mean_count(key, scale=1.0):
        xs = [counts[r].get(key, 0.0) for r in kinds if r in counts]
        return sum(xs) / len(xs) / scale if xs else 0.0

    rows = sum(c.get("scan.rows", 0.0) for c in counts.values())
    results = sum(c.get("result.rows", 1.0) for c in counts.values())
    m = {
        "rank.score_build_ms": med(by["rank.score_build"]),
        "rank.collect_ms": med(by["rank.collect"]),
        "rank.mmr_ms": med(by["rank.mmr"]),
        "rank.candidates": med([counts[r].get("rank.candidates", 0.0)
                                for r, k in kinds.items() if k == "recommend" and r in counts
                                and workload != "suite"]),
        "qa.retrieve_build_ms": med(by["qa.retrieve_build"]),
        "qa.collect_ms": med(by["qa.collect"]),
        "scan.rows": mean_count("scan.rows"),
        "scan.rows_per_result": rows / results if results else 0.0,
        "storage.cached_mb": end["cached_mb"],
        "trace_overhead_frac": geomean([op["ms"] for op in traced])
        / geomean([op["ms"] for op in untraced]) - 1,
    }
    for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
              "spark.jobs", "spark.tasks", "exec.cpu_ms", "exec.gc_ms"):
        m[k] = mean_count(k)
    # suite: per module, summed over each pass, median over passes
    passes = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for op in traced:
        if workload != "suite":
            break
        c = counts.get(op["req"], {})
        acc = passes[op["pass"]][op["module"]]
        acc["s"] += op["ms"] / 1e3
        acc["cpu_s"] += c.get("exec.cpu_ms", 0.0) / 1e3
        acc["gc_s"] += c.get("exec.gc_ms", 0.0) / 1e3
        acc["shuffle_mb"] += c.get("shuffle.bytes", 0.0) / MB
        acc["spill_mb"] += c.get("spill.bytes", 0.0) / MB
    for mod in MODULES:
        for f, _ in MODULE_FIELDS:
            m[f"suite.{mod}.{f}"] = med([p[mod][f] for p in passes.values()])
    return m, span_summary(spans)


def summarize(workload, recs, trace):
    """(result line, artifact) for one run."""
    ops = [r for r in recs if r["type"] == "op"]
    phases = {r["name"]: r for r in recs if r["type"] == "phase"}
    end = next(r for r in recs if r["type"] == "end")
    env = next((r for r in recs if r["type"] == "env"), {})
    failed_checks = {r["req"]: r["error"] for r in recs if r["type"] == "check" and not r["ok"]}
    untraced = [op for op in ops if op["phase"] == "untraced"]
    traced = [op for op in ops if op["phase"] == "traced"]
    for op in traced:
        if op["req"] in failed_checks and op["ok"]:
            op.update(ok=False, error_class="check", error=failed_checks[op["req"]])
    measured = untraced + traced
    failures = [{k: op.get(k) for k in ("phase", "req", "kind", "name", "session",
                                        "error_class", "error")}
                for op in measured if not op["ok"]]

    window_ms = phases["untraced"]["s"] * 1e3
    lat = latencies(workload, untraced, window_ms)
    ok_untraced = sum(op["ok"] for op in untraced)
    e2e = {
        "setup_s": statistics.median(r["s"] for r in recs if r["type"] == "setup"),
        "recommend_p50_ms": statistics.median(lat["recommend"]),
        "qa_p50_ms": statistics.median(lat["qa"]),
        "geomean_ms": suite_geomean(untraced, window_ms) if workload == "suite"
        else geomean(lat["all"]),
        "requests_per_s": ok_untraced / phases["untraced"]["s"],
        "peak_rss_mb": end["peak_rss_mb"],
    }
    artifact = {"end_to_end": e2e, "latency": kind_stats(lat), "failures": failures,
                "env": env, "phases": phases,
                "setups_s": [r["s"] for r in recs if r["type"] == "setup"]}
    if workload == "suite":
        artifact["queries"] = {op["name"]: {"ms": op["ms"], "ok": op["ok"],
                                            "checksum": op.get("checksum")}
                               for op in untraced}
    units = dict(END_TO_END)
    if trace:
        layers, spans = per_layer(workload, recs, untraced, traced, end)
        artifact.update(per_layer=layers, spans=spans)
        units = dict(PER_LAYER)
        chosen = layers
    else:
        chosen = e2e
    result = {
        "correct": not failures,
        "attempted": len(measured),
        "failed": len(failures),
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    artifact["result"] = result
    return result, artifact
