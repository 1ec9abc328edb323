"""Plans, output checks and metrics of the benchmark. Pure functions, so the
self-tests can drive them without Spark."""
import json
import math
import os
import random

WORKLOADS = ("cells", "lake", "sql_mix")

# Set-up runs this many times in a run; setup_s is their median. Each
# repetition ends with one untimed warm-up pass, so the timed loop starts
# after three passes.
SETUP_REPS = 3

# Op counts are a fixed function of --seconds, never of the run's own speed:
# every run of a (workload, seed, seconds) does the same work.
CELLS_FILES_PER_S = 1.0
LAKE_ROUNDS_PER_S = 1.0
SQL_PASSES_PER_S = 0.2

CELLS = dict(images_per_file=64, channels=9, size=32, canny_images=16,
             threshold1=[50, 100], threshold2=[100, 200], shapes=[[8, 8], [4, 4]])
CELLS_WARM_FILES = 3   # files in each set-up's warm-up pass
LAKE_HISTORY = 33      # commits before the first op: past the 32-path listing threshold
LAKE_WARM_ROUNDS = 1   # rounds in each set-up's warm-up pass
LAKE_ROWS = 100        # rows per INSERT
SQL_QUERIES = [
    "q01_pricing_summary", "q03_star_join_revenue", "q07_theta_join", "q10_rollup",
    "q31_range_join", "q45_welford_aggregator", "q46_cellimage_features",
    "q47_outlier_pipeline", "q49_canny_grid_search",
]
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_SQL = os.path.join(HERE, "expected", "sql_mix.json")


def sf_dir():
    """The sf0.1 tables sql_mix reads: graft.Bench's SPARK_GRAFT_SF_DIR convention."""
    return os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def ops_for(rate, seconds):
    return max(1, int(round(rate * seconds)))


def make_plan(workload, seed, seconds, trace, work_dir):
    """The op sequence of one run: a function of (workload, seed, seconds) only."""
    plan = dict(workload=workload, seed=seed, trace=bool(trace), work_dir=work_dir,
                setup_reps=SETUP_REPS)
    if workload == "cells":
        base = (seed % 1_000_000) * 100
        n = ops_for(CELLS_FILES_PER_S, seconds)
        plan.update(CELLS, warm_files=[base + i for i in range(CELLS_WARM_FILES)],
                    files=[base + CELLS_WARM_FILES + i for i in range(n)])
    elif workload == "lake":
        rng = random.Random(seed)
        rounds = ops_for(LAKE_ROUNDS_PER_S, seconds)
        blocks = LAKE_HISTORY + LAKE_WARM_ROUNDS + rounds
        keys = rng.sample(range(10 ** 12), blocks * LAKE_ROWS)
        inserts = [keys[i * LAKE_ROWS:(i + 1) * LAKE_ROWS] for i in range(blocks)]
        seen = [k for b in inserts[:LAKE_HISTORY] for k in b]

        def rounds_of(blocks_):
            out = []
            for b in blocks_:
                seen.extend(b)
                out.append(dict(insert=b, lookup=rng.choice(seen)))
            return out
        plan.update(history=inserts[:LAKE_HISTORY],
                    warm_rounds=rounds_of(inserts[LAKE_HISTORY:LAKE_HISTORY + LAKE_WARM_ROUNDS]),
                    rounds=rounds_of(inserts[LAKE_HISTORY + LAKE_WARM_ROUNDS:]))
    elif workload == "sql_mix":
        # the fixed sf0.1 tables are the inputs: the seed does not apply
        plan.update(sf_dir=sf_dir(), queries=SQL_QUERIES,
                    passes=ops_for(SQL_PASSES_PER_S, seconds))
    else:
        raise ValueError(f"unknown workload {workload}")
    return plan


def percentile(values, q):
    """Linear-interpolated q-th percentile (0..100) of a non-empty sequence."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


# ---------------------------------------------------------------- checks

def _lake_expect(plan):
    """Expected (rows, max key) after each round, for warm and timed rounds."""
    hist = [k for b in plan["history"] for k in b]
    warm_n, warm_max = len(hist), max(hist)
    warm = []
    for r in plan["warm_rounds"]:
        warm_n += len(r["insert"])
        warm_max = max(warm_max, max(r["insert"]))
        warm.append((warm_n, warm_max))
    timed = []
    n, mx = warm_n, warm_max
    for r in plan["rounds"]:
        n += len(r["insert"])
        mx = max(mx, max(r["insert"]))
        timed.append((n, mx))
    return warm, timed


def _lake_wants(rounds, totals):
    """What a correct program answers to each op of these rounds."""
    wants = []
    for r, (n, mx) in zip(rounds, totals):
        k = r["lookup"]
        wants += [{}, dict(key=k, rows=[[k, f"v{k}"]]), dict(count=n, max=mx)]
    return wants


def _wants(plan, result, expected_sql):
    """(op, want) for every warm and timed op; want maps output keys to the
    values a correct program gives, None when nothing is known for the op."""
    warm, ops = result["warm"], result["ops"]
    w = plan["workload"]
    if w == "lake":
        warm_tot, timed_tot = _lake_expect(plan)
        warm_wants = _lake_wants(plan["warm_rounds"], warm_tot) * plan["setup_reps"]
        timed_wants = _lake_wants(plan["rounds"], timed_tot)
    elif w == "cells":
        ref = result["end"]["reference"]

        def want(op):
            r = ref.get(str(op.get("out", {}).get("file")))
            return r and dict(r, kmeans_score_in_0_1=True)
        warm_wants = [want(op) for op in warm]
        timed_wants = [want(op) for op in ops]
    else:
        sql = expected_sql or {}
        warm_wants = [sql.get(op["kind"]) for op in warm]
        timed_wants = [sql.get(op["kind"]) and dict(rows=sql[op["kind"]]["rows"]) for op in ops]
    if len(warm_wants) != len(warm) or len(timed_wants) != len(ops):
        raise ValueError("the run's op count differs from its plan")
    return list(zip(warm + ops, warm_wants + timed_wants))


def _got(op, key):
    out = op.get("out", {})
    if key == "kmeans_score_in_0_1":
        return 0.0 <= out.get("kmeans_score", -1.0) <= 1.0
    return out.get(key)


def check(plan, result, expected_sql=None):
    """(attempted, failed, problems): every warm and timed op is checked against
    what a correct program answers, and the lake's end state against the plan."""
    attempted = len(result["warm"]) + len(result["ops"])
    try:
        pairs = _wants(plan, result, expected_sql)
    except ValueError as e:
        return attempted, attempted, [str(e)]
    failed, problems = 0, []
    for op, want in pairs:
        got = want and {k: _got(op, k) for k in want}
        if "error" in op or want is None or got != want:
            failed += 1
            problems.append(f"op {op.get('op')} ({op['kind']}): "
                            + (op["error"] if "error" in op else f"got {got}, want {want}"))
    if plan["workload"] == "lake":
        end = result["end"]
        # CREATE TABLE commits the empty snapshot 0, then one snapshot per INSERT
        commits = 1 + len(plan["history"]) + len(plan["warm_rounds"]) + len(plan["rounds"])
        rows = _lake_expect(plan)[1][-1][0]
        if end.get("snapshots") != commits:
            problems.append(f"snapshots {end.get('snapshots')} != commits {commits}")
        if end.get("live_rows") != rows:
            problems.append(f"live rows {end.get('live_rows')} != {rows}")
    return attempted, failed, problems


def load_expected_sql():
    with open(EXPECTED_SQL) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

END_TO_END = (("setup_s", "s"), ("op_p50_ms", "ms"), ("throughput_per_s", "1/s"),
              ("cpu_ms_per_op", "ms"), ("store_bytes_per_row", "B"))


def end_to_end(result):
    ops = result["ops"]
    end = result["end"]
    return {
        "setup_s": median(result["setup_s"]),
        "op_p50_ms": median([o["ms"] for o in ops]),
        "throughput_per_s": sum(o["weight"] for o in ops) / result["loop_s"],
        "cpu_ms_per_op": result["loop_cpu_s"] * 1000.0 / len(ops),
        "store_bytes_per_row": end["store_bytes"] / end["store_rows"],
    }


def lake_latencies(ops):
    """Median INSERT latency and median latency of the two read ops (lake only)."""
    writes = [o["ms"] for o in ops if o["kind"] == "insert"]
    reads = [o["ms"] for o in ops if o["kind"] in ("lookup", "agg")]
    return (median(writes) if writes else 0.0, median(reads) if reads else 0.0)


def self_times(spans):
    """span id → self ns: duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cur), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


SELF_LAYERS = ("op", "sources", "pipeline.features", "pipeline.outlier", "pipeline.canny",
               "pipeline.kmeans", "catalog.commit", "catalog.plan", "catalog.scan", "queries")
SPARK_COUNTS = (("spark.parse_ms", "parse_ms", "ms"), ("spark.analysis_ms", "analysis_ms", "ms"),
                ("spark.optimization_ms", "optimization_ms", "ms"),
                ("spark.planning_ms", "planning_ms", "ms"),
                ("spark.execution_ms", "execution_ms", "ms"), ("spark.jobs", "jobs", "count"),
                ("spark.stages", "stages", "count"), ("spark.tasks", "tasks", "count"),
                ("spark.executor_cpu_ms", "executor_cpu_ns", "ms"),
                ("spark.executor_run_ms", "executor_run_ms", "ms"), ("spark.gc_ms", "gc_ms", "ms"),
                ("spark.input_bytes", "input_bytes", "B"),
                ("spark.shuffle_read_bytes", "shuffle_read_bytes", "B"),
                ("spark.shuffle_write_bytes", "shuffle_write_bytes", "B"),
                ("spark.spill_bytes", "spill_bytes", "B"))


def _layer(name):
    """Layer of a span: its name up to the second dot (pipeline.outlier.train →
    pipeline.outlier); query spans all belong to `queries`."""
    if name.startswith("queries."):
        return "queries"
    return ".".join(name.split(".")[:2])


# (metric, span names, what, unit): what is "ms" for span time or a count key
LAYER_METRICS = (
    ("sources.scan_ms", ("sources",), "ms", "ms"),
    ("sources.input_bytes", ("sources",), "input_bytes", "B"),
    ("sources.tasks", ("sources",), "tasks", "count"),
    ("pipeline.features_ms", ("pipeline.features",), "ms", "ms"),
    ("pipeline.features_cpu_ms", ("pipeline.features",), "executor_cpu_ns", "ms"),
    ("pipeline.outlier_train_ms", ("pipeline.outlier.train",), "ms", "ms"),
    ("pipeline.outlier_filter_ms", ("pipeline.outlier.filter",), "ms", "ms"),
    ("pipeline.outlier_shuffle_bytes", ("pipeline.outlier.train", "pipeline.outlier.filter"),
     "shuffle_write_bytes", "B"),
    ("pipeline.canny_train_ms", ("pipeline.canny.train",), "ms", "ms"),
    ("pipeline.canny_predict_ms", ("pipeline.canny.predict",), "ms", "ms"),
    ("pipeline.canny_cpu_ms", ("pipeline.canny.train", "pipeline.canny.predict"),
     "executor_cpu_ns", "ms"),
    ("pipeline.canny_scores", ("pipeline.canny.train",), "canny_scores", "count"),
    ("pipeline.kmeans_ms", ("pipeline.kmeans",), "ms", "ms"),
    ("pipeline.kmeans_jobs", ("pipeline.kmeans",), "jobs", "count"),
    ("catalog.commit_ms", ("catalog.commit",), "ms", "ms"),
    ("catalog.commit_jobs", ("catalog.commit",), "jobs", "count"),
    ("catalog.commit_tasks", ("catalog.commit",), "tasks", "count"),
    ("catalog.commit_cpu_ms", ("catalog.commit",), "executor_cpu_ns", "ms"),
    ("catalog.commit_bytes_written", ("catalog.commit",), "commit_bytes_written", "B"),
    ("catalog.plan_ms", ("catalog.plan",), "ms", "ms"),
    ("catalog.plan_optimize_ms", ("catalog.plan",), "optimization_ms", "ms"),
    ("catalog.plan_jobs", ("catalog.plan",), "jobs", "count"),
    ("catalog.plan_tasks", ("catalog.plan",), "tasks", "count"),
    ("catalog.scan_exec_ms", ("catalog.scan",), "ms", "ms"),
    ("catalog.scan_input_bytes", ("catalog.scan",), "input_bytes", "B"),
    ("catalog.scan_input_records", ("catalog.scan",), "input_records", "count"),
)
STORE_METRICS = (("catalog.table_bytes", "table_bytes", "B"),
                 ("catalog.meta_bytes", "meta_bytes", "B"),
                 ("catalog.meta_bytes_per_commit", "meta_bytes_newest", "B"),
                 ("catalog.version_files", "version_files", "count"),
                 ("catalog.segments", "segments", "count"))


def per_layer_units():
    """Every per-layer metric name → unit, in report order."""
    units = {m: u for m, _, _, u in LAYER_METRICS}
    units.update({m: u for m, _, u in STORE_METRICS})
    units.update({m: u for m, _, u in SPARK_COUNTS})
    units.update({f"queries.{q}_ms": "ms" for q in SQL_QUERIES})
    units.update({f"self_ms.{layer}": "ms" for layer in SELF_LAYERS})
    units.update({"ops.write_p50_ms": "ms", "ops.read_p50_ms": "ms",
                  "trace.throughput_per_s": "1/s", "trace.spans": "count"})
    return units


def per_layer(result):
    """Per-layer metrics of a traced run: the mean per op over the timed loop,
    where a layer's op count is the number of ops that called it; the
    catalog.store values are the table's state at the end of the run."""
    spans = result["spans"]
    n_ops = len(result["ops"])
    out = {m: 0.0 for m in per_layer_units()}

    def value(s, what):
        if what == "ms":
            return (s["end_ns"] - s["start_ns"]) / 1e6
        v = s["counts"].get(what, 0)
        return v / 1e6 if what.endswith("_ns") else v

    for metric, names, what, _ in LAYER_METRICS:
        hit = [s for s in spans if s["name"] in names]
        calls = len({s["op"] for s in hit})
        if calls:
            out[metric] = sum(value(s, what) for s in hit) / calls
    end = result["end"]
    for metric, key, _ in STORE_METRICS:
        out[metric] = float(end.get(key, 0))
    for metric, key, _ in SPARK_COUNTS:
        out[metric] = sum(value(s, key) for s in spans) / n_ops
    for q in SQL_QUERIES:
        hit = [value(s, "ms") for s in spans if s["name"] == f"queries.{q}"]
        if hit:
            out[f"queries.{q}_ms"] = sum(hit) / len(hit)
    selfs = self_times(spans)
    for s in spans:
        out[f"self_ms.{_layer(s['name'])}"] += selfs[s["id"]] / 1e6 / n_ops
    out["ops.write_p50_ms"], out["ops.read_p50_ms"] = lake_latencies(result["ops"])
    out["trace.throughput_per_s"] = end_to_end(result)["throughput_per_s"]
    out["trace.spans"] = len(spans) / n_ops
    return out


def evaluate(plan, result, expected_sql=None):
    """The benchmark's result line for one run, plus human-readable report lines."""
    attempted, failed, problems = check(plan, result, expected_sql)
    lines = [f"perfbench: {p}" for p in problems]
    if plan["trace"]:
        units = per_layer_units()
        vals = per_layer(result)
    else:
        units = dict(END_TO_END)
        vals = end_to_end(result)
    metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    e2e = end_to_end(result)
    lines.append("perfbench: %s seed=%s ops=%d warm=%d failed=%d" % (
        plan["workload"], plan["seed"], len(result["ops"]), len(result["warm"]), failed))
    for k, u in END_TO_END:
        lines.append(f"  {k:<22} {e2e[k]:>14.4f} {u}")
    if plan["workload"] == "lake":
        wr, rd = lake_latencies(result["ops"])
        lines.append(f"  {'write_p50_ms':<22} {wr:>14.4f} ms")
        lines.append(f"  {'read_p50_ms':<22} {rd:>14.4f} ms")
    d = result["diagnostics"]
    lines.append("  diagnostics: setup reps %s s, calib %.3f/%.3f s, loadavg %.2f/%.2f, "
                 "timed loop JIT %d ms, GC %d ms, %d generated classes" % (
                     [round(x, 3) for x in result["setup_s"]], d["calib_start_s"], d["calib_end_s"],
                     d["load_start"], d["load_end"], d["loop_jit_ms"], d["loop_gc_ms"], d["loop_codegens"]))
    line = {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return line, lines
