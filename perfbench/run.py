#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (cached by a digest of their sources under
`.bench_build/`). Each run then starts one JVM that sets up a Spark
session and a fresh copy of the workload's data, runs a cold pass, a
warm-up pass that writes every query's result, and then warm passes of the
workload's queries, one query at a time, for at least S seconds and three
passes, each after a run of a fixed reference kernel. The written results
are checked against each query's DuckDB oracle with
`scripts/check_oracle.py`. The run's data and the side paths its queries
created are deleted at exit. See perfbench/README.md.

`--trace 0` reports the end-to-end metrics; `--trace 1` attaches the span
recorder's listeners on alternate warm passes, reports the per-layer
metrics and writes the spans to `.bench_out/`. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build"
WORK_DIR = ROOT / ".bench_work"
OUT_DIR = ROOT / ".bench_out"
HARNESS = HERE / "harness"
TESTDATA = Path(os.environ.get("GRAFT_TESTDATA", str(Path.home() / "testdata")))
# Whole-run deadline after the build.
DEADLINE_S = 170
HEAP = "1g"
# Stream checkpoints that `graft.streaming` puts on tmpfs when it can.
SHM_CHECKPOINTS = "/dev/shm/graft_ckpt_*"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------------------
# Build


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", HARNESS / "build.sbt"]
    for d in (ROOT / "project", HARNESS / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".properties", ".sbt", ".scala")]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def build(deadline):
    """Compile engine and harness; returns the harness runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main", ROOT / "scripts" / "check_oracle.py"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from the root of a graft checkout")
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    stamp_file, cp_file = BUILD_DIR / "stamp", BUILD_DIR / "classpath"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    BUILD_DIR.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # sbt's server socket and scratch files go under the build dir, not /tmp.
    sbt_tmp = BUILD_DIR / "tmp"
    sbt_tmp.mkdir(exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={sbt_tmp} -XX:-UsePerfData".strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=max(60, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed", 3)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------------------
# One run


def load_workload(name):
    spec = json.loads((HERE / "workloads.json").read_text())
    for w in spec["workloads"]:
        if w["name"] == name:
            return spec, w
    fail(f"unknown workload {name!r}; known: {[w['name'] for w in spec['workloads']]}")


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def task_slots():
    """Spark's task slots and shuffle partitions: half the CPUs. The other
    half is left to the JVM's JIT compiler and GC threads, so that they do
    not compete with the tasks and a short multi-task stage does not wait
    on a descheduled one. On 4 CPUs, warm sf0.1 passes take as long with 2
    slots as with 4, and cold passes are shorter."""
    return max(1, cpus() // 2)


def sf_tag(data_dir):
    """`SparkEntry.sfTag`: the first 8 hex digits of the dir's MD5."""
    return hashlib.md5(data_dir.encode("utf-8")).hexdigest()[:8]


def run_harness(cp, workload, args, work, out, deadline):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    slots = task_slots()
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ParallelGCThreads={slots}",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += workload.get("jvm_options", [])
    cmd += ["-cp", cp, "graftbench.Harness",
            "--src", str(TESTDATA / workload["source"]),
            "--queries", ",".join(workload["queries"]), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out), "--cpus", str(slots),
            "--t0-us", str(time.time_ns() // 1000)]
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    lines = open(work / "jvm.log", errors="replace").readlines()
    if rc != 0 or not out.exists():
        sys.stderr.write("".join(lines[-40:]))
        fail(f"harness exited with {rc}", 4)
    sys.stderr.write("".join(ln for ln in lines if ln.startswith("[graftbench]")))
    return json.loads(out.read_text())


ORACLE_LINE = re.compile(r"^(PASS|FAIL|MISSING spark output:|ORACLE ERROR) ?(\S+?):?(?: (.*))?$")


def parse_oracle(stdout):
    """check_oracle.py's per-query lines as {query: None if it passed, else
    the verdict and cause}."""
    verdict = {}
    for line in stdout.splitlines():
        m = ORACLE_LINE.match(line)
        if m:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else f"{m.group(1)} {m.group(3) or ''}".strip()
    return verdict


def oracle_gate(record, work, deadline):
    """Runs scripts/check_oracle.py over the dumps; returns {query: cause}
    for every query whose result does not match its oracle."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "check_oracle.py"), record["data_dir"],
         record["oracle_dir"]],
        cwd=work, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=max(1, deadline - time.time()))
    verdict = parse_oracle(proc.stdout)
    bad = {}
    for name in json.loads((Path(record["oracle_dir"]) / "oracle_sql.json").read_text()):
        if name not in verdict:
            bad[name] = "oracle check produced no verdict: " + (proc.stderr.strip().splitlines() or ["?"])[-1]
        elif verdict[name] is not None:
            bad[name] = verdict[name]
    return bad


def remove(path):
    shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)


def cleanup(work, tags, shm_before):
    """Deletes the run's directory, the side paths its queries created
    (`SparkEntry.sidePath`: /tmp/<base>_<tag>) and the stream checkpoints
    they left on tmpfs (present now, absent before the run). Checkpoints
    under `java.io.tmpdir` go with the run's directory."""
    shutil.rmtree(work, ignore_errors=True)
    for tag in tags:
        for side in glob.glob(f"/tmp/*_{tag}"):
            remove(side)
    for ckpt in set(glob.glob(SHM_CHECKPOINTS)) - shm_before:
        remove(ckpt)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    cp = build(started + 900)
    deadline = time.time() + DEADLINE_S
    spec, workload = load_workload(args.workload)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    family_of = {q: f for f, qs in workload["families"].items() for q in qs}
    workload["queries"] = list(family_of)
    WORK_DIR.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR))
    record = None
    shm_before = set(glob.glob(SHM_CHECKPOINTS))
    try:
        t0 = time.time()
        record = run_harness(cp, workload, args, work, work / "record.json", deadline)
        t1 = time.time()
        bad = oracle_gate(record, work, deadline)
        log(f"harness {t1 - t0:.1f} s, oracle gate {time.time() - t1:.1f} s")
    finally:
        # The harness reports the tag it used; the local derivation covers a
        # harness that died before reporting.
        cleanup(work, {sf_tag(str(work / "data"))} | ({record["sf_tag"]} if record else set()),
                shm_before)

    threw = [(p["index"], q["name"], q["error"]) for p in record["passes"]
             for q in p["queries"] if "error" in q]
    attempted = sum(len(p["queries"]) for p in record["passes"])
    failed = len(threw) + len(bad)
    for idx, name, err in threw:
        log(f"FAILED {name} (pass {idx}): {err}")
    for name, cause in sorted(bad.items()):
        log(f"ORACLE MISMATCH {name}: {cause}")
    print(f"workload {args.workload}  seed {args.seed}  cpus {record['cpus']}  "
          f"passes {len(record['passes'])}  oracle {len(workload['queries']) - len(bad)}"
          f"/{len(workload['queries'])} match")
    print(f"failed_ratio {metrics.failed_ratio(attempted, len(threw), len(bad)):.4f} ratio "
          f"({failed} of {attempted} executions)")

    print(f"  {'query (median warm ms)':<32} {'family':<10} {'build':>9} {'plan':>7} {'exec':>9}")
    for name, fam, b, pl, e in metrics.per_query(record, family_of):
        print(f"  {name:<32} {fam:<10} {b:>9.1f} {pl:>7.1f} {e:>9.1f}")

    if args.trace:
        layers = metrics.per_layer(record, family_of, spec["families"])
        out = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
        OUT_DIR.mkdir(exist_ok=True)
        spans_file = OUT_DIR / f"spans-{args.workload}-seed{args.seed}.json"
        spans_file.write_text(json.dumps(record["trace"]))
        print(f"spans written to {spans_file.relative_to(ROOT)}")
        wall = layers["query.wall_ms"]
        print(f"shares of query wall: entry.build {layers['entry.build_ms'] / wall:.3f}  "
              f"exec {layers['exec.ms'] / wall:.3f}  spans cover {layers['trace.span_coverage']:.3f}")
    else:
        walls, n = metrics.wall_times(record)
        print(f"wall times as measured (query_ms from {n} warm executions):")
        for k, (v, unit) in walls.items():
            print(f"  {k:<32} {v:>14.4f} {unit}")
        if metrics.highest_percentile(n) is None:
            log(f"only {n} successful warm executions: fewer than ten beyond the median")
        e2e = metrics.end_to_end(record)
        out = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}
    for k, v in out.items():
        print(f"  {k:<32} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
