"""Pure statistics and roll-ups for the graft benchmark.

Everything here works on plain Python values (lists, dicts, the run
record the Scala harness writes) so it can be unit-tested without a JVM.
"""
import math
import statistics

PERCENTILE_LEVELS = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def median(values):
    """Median of a non-empty sequence."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as
    `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    return tuple(statistics.quantiles(values, n=4))


def iqr_share(values):
    """Distance between the first and third quartile as a share of the
    median: the spread the benchmark's bounds are checked against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between
    closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_percentile(n, levels=PERCENTILE_LEVELS, min_beyond=MIN_BEYOND):
    """Highest percentile level that still leaves at least `min_beyond` of
    `n` samples beyond it, or None when even the lowest level does not."""
    best = None
    for p in sorted(levels):
        if n * (100 - p) / 100.0 >= min_beyond:
            best = p
    return best


def failed_ratio(attempted, threw, mismatched):
    """Failures over attempted executions: every execution that threw and
    every oracle mismatch counts once."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    return (threw + mismatched) / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the union of its children's intervals,
    each clipped to the span."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def rollup(values, family_of):
    """Sum per-query values into their families. Every query must have a
    family."""
    out = {}
    for name, v in values:
        fam = family_of[name]
        out[fam] = out.get(fam, 0) + v
    return out


# ---------------------------------------------------------------------------
# Run-record reductions


def warm_passes(record, traced=False):
    return [p for p in record["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def query_samples_ms(passes):
    """Wall of every successful query execution in the given passes."""
    return [q["build_ms"] + q["plan_ms"] + q["exec_ms"]
            for p in passes for q in p["queries"] if "error" not in q]


def per_query(record, family_of):
    """Median warm build, plan and exec ms of each query, by name."""
    rows = []
    for name in sorted(family_of):
        qs = [q for p in warm_passes(record) for q in p["queries"]
              if q["name"] == name and "error" not in q]
        if qs:
            rows.append((name, family_of[name], *(median([q[k] for q in qs])
                                                  for k in ("build_ms", "plan_ms", "exec_ms"))))
    return rows


def end_to_end(record):
    """The end-to-end metrics of an untraced run. `suite_ref` is the median
    warm pass wall over the median wall of the reference kernel timed
    before the same passes: the suite in units of a fixed JVM workload run
    in the same JVM, so that it moves with the program and not with the
    host's speed. Set-up is the JVM's start to a live session, measured
    once, plus the median of the repeated materialisations of the input."""
    warm = warm_passes(record)
    return {
        "suite_ref": (median([p["wall_ms"] for p in warm]) / median([p["ref_ms"] for p in warm]), "ref"),
        "setup_s": ((record["session_ms"] + median(record["data_ready_ms"])) / 1000.0, "s"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }


def wall_times(record):
    """The run's wall-clock figures as measured, which move with the host's
    speed as much as with the program's, and the number of warm query
    executions behind the percentile."""
    warm = warm_passes(record)
    cold = [p for p in record["passes"] if p["kind"] == "cold"]
    samples = query_samples_ms(warm)
    return {
        "suite_s": (median([p["wall_ms"] for p in warm]) / 1000.0, "s"),
        "cold_suite_s": (cold[0]["wall_ms"] / 1000.0, "s"),
        "query_ms.p50": (percentile(samples, 50), "ms"),
        "host.ref_ms": (median([p["ref_ms"] for p in warm]), "ms"),
    }, len(samples)


class SpanIndex:
    """Parent/child view over the harness's span list."""

    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def kids(self, span_id, kind=None):
        return [c for c in self.children.get(span_id, []) if kind is None or c["kind"] == kind]

    @staticmethod
    def ms(span):
        return max(0, span["end_us"] - span["start_us"]) / 1000.0


def _attr_sum(stages, key):
    return sum(s["attrs"].get(key, 0) for s in stages)


def pass_layers(p, index, progress, family_of, families, cpus):
    """Per-layer sums for one traced pass."""
    MB = 1048576.0
    p_span = index.by_id[p["span_id"]]
    qspans = index.kids(p["span_id"], "query")
    phase = {k: [ph for q in qspans for ph in index.kids(q["id"], k)] for k in ("build", "plan", "exec")}
    jobs_in = {k: [j for ph in v for j in index.kids(ph["id"], "job")] for k, v in phase.items()}
    stages_in = {k: [s for j in v for s in index.kids(j["id"], "stage")] for k, v in jobs_in.items()}
    all_jobs = [j for v in jobs_in.values() for j in v]
    all_stages = [s for v in stages_in.values() for s in v]

    query_wall = sum(index.ms(q) for q in qspans)
    uncovered = sum(self_time((q["start_us"], q["end_us"]),
                              [(c["start_us"], c["end_us"]) for c in index.kids(q["id"])])
                    for q in qspans) / 1000.0
    exec_ms = sum(index.ms(s) for s in phase["exec"])
    exec_task_ms = _attr_sum(stages_in["exec"], "task_ms")
    build_by_query = [(ph["name"], index.ms(ph)) for ph in phase["build"]]
    by_family = rollup(build_by_query, family_of)
    ok = [q for q in p["queries"] if "error" not in q]
    rows_out = sum(q["rows"] for q in ok)

    lo, hi = min(q["start_us"] for q in qspans), max(q["end_us"] for q in qspans)
    trig = [r for r in progress if lo <= r["start_us"] <= hi]
    last_by_run = {}
    for r in sorted(trig, key=lambda r: r["batch"]):
        last_by_run[r["run_id"]] = r

    def dur(key):
        return sum(r["duration_ms"].get(key, 0) for r in trig)

    m = {
        "query.wall_ms": query_wall,
        "trace.span_coverage": 1.0 - uncovered / query_wall if query_wall else 0.0,
        "entry.build_ms": sum(v for _, v in build_by_query),
        "entry.eager_jobs": len(jobs_in["build"]),
        "entry.eager_task_ms": _attr_sum(stages_in["build"], "task_ms"),
        "catalyst.analysis_ms": sum(q["analysis_ms"] for q in ok),
        "catalyst.optimization_ms": sum(q["optimization_ms"] for q in ok),
        "catalyst.planning_ms": sum(q["planning_ms"] for q in ok),
        "codegen.compiles": p["jvm"]["codegen_compiles"],
        "codegen.compile_ms": p["jvm"]["codegen_ms"],
        "sched.jobs": len(all_jobs),
        "sched.stages": len(all_stages),
        "sched.tasks": _attr_sum(all_stages, "tasks"),
        "sched.delay_ms": max(0, sum(_attr_sum(all_stages, k) * sign for k, sign in (
            ("task_ms", 1), ("run_ms", -1), ("deser_ms", -1), ("result_ser_ms", -1)))),
        "sched.slot_idle_ratio": 1.0 - exec_task_ms / (exec_ms * cpus) if exec_ms else 0.0,
        "exec.ms": exec_ms,
        "exec.task_ms": exec_task_ms,
        "exec.cpu_ms": _attr_sum(stages_in["exec"], "cpu_ns") / 1e6,
        "exec.gc_ms": _attr_sum(stages_in["exec"], "gc_ms"),
        "exec.failed_tasks": _attr_sum(all_stages, "failed_tasks"),
        "shuffle.write_mb": _attr_sum(all_stages, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": _attr_sum(all_stages, "shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_ms": _attr_sum(all_stages, "fetch_wait_ms"),
        "spill.disk_mb": _attr_sum(all_stages, "spill_disk_bytes") / MB,
        "spill.mem_mb": _attr_sum(all_stages, "spill_mem_bytes") / MB,
        "io.read_mb": p_span["attrs"].get("files_read_bytes", 0) / MB,
        "io.read_rows": _attr_sum(all_stages, "read_rows"),
        "io.write_mb": _attr_sum(all_stages, "write_bytes") / MB,
        "io.write_rows": _attr_sum(all_stages, "write_rows"),
        "io.rows_examined_per_row_out": _attr_sum(all_stages, "read_rows") / max(1, rows_out),
        "stream.triggers": len(trig),
        "stream.trigger_ms.p50": median([r["duration_ms"].get("triggerExecution", 0) for r in trig]) if trig else 0.0,
        "stream.add_batch_ms": dur("addBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.state_commit_ms": sum(r["state_commit_ms"] for r in trig),
        "stream.state_rows": sum(r["state_rows"] for r in last_by_run.values()),
        "stream.state_mb": sum(r["state_bytes"] for r in last_by_run.values()) / MB,
        "jvm.gc_ms": p["jvm"]["gc_ms"],
        "jvm.jit_ms": p["jvm"]["jit_ms"],
        "jvm.heap_peak_mb": p["jvm"]["heap_peak_mb"],
    }
    for fam in families:
        m[f"entry.build_ms.{fam}"] = by_family.get(fam, 0.0)
    return m


def per_layer(record, family_of, families):
    """Median over the traced warm passes of each per-pass layer sum, plus
    the listeners' overhead on the suite time."""
    index = SpanIndex(record["trace"]["spans"])
    progress = record["trace"]["stream_progress"]
    traced = warm_passes(record, traced=True)
    untraced = warm_passes(record, traced=False)
    per_pass = [pass_layers(p, index, progress, family_of, families, record["cpus"]) for p in traced]
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update({k: v for k, (v, _) in wall_times(record)[0].items()})
    out["trace.overhead_ratio"] = (median([p["wall_ms"] for p in traced])
                                   / median([p["wall_ms"] for p in untraced]))
    return out
