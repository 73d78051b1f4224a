#!/usr/bin/env python3
"""etlbench: the payroll ETL benchmark.

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see etlbench/README.md for why each was chosen):
  pua_workbook  graft.app.Main.run over a generated PUA workbook and cert CSVs
  library_mix   eleven SparkEntry queries over the bundled sf0.01 tables

Run from the root of a checkout. The first run builds the harness (and
with it the root project) with sbt, offline; later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, starts the harness JVM, checks every output, and prints one JSON
line as the last line of stdout. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics of a traced run.

Failures exit non-zero naming the cause: build, generation, oracle
mismatch, missing table, or run. Only a run that measured (its operations
failing or not) prints a result line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".etlbench")
HARNESS = os.path.join(HERE, "harness")
LIBRARY_DATA = os.path.join(HERE, "data", "sf0.01")
LIBRARY_EXPECTED = os.path.join(HERE, "expected", "library_mix.json")

WORKLOADS = ("pua_workbook", "library_mix")
# A run's JVM may take this long for set-up, the first iteration and the
# last steady iterations; `--seconds` of steady iterations come on top.
RUN_ALLOWANCE = 160

EXIT = {"build": 3, "generation": 4, "oracle mismatch": 5, "missing table": 6, "run": 7}

PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.result_bytes", "bytes"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.job_busy_s", "s"), ("spark.driver_only_s", "s"),
    ("storage.list_calls", "count"), ("storage.list_s", "s"),
    ("storage.read_bytes", "bytes"), ("storage.read_s", "s"),
    ("storage.write_bytes", "bytes"), ("storage.write_s", "s"),
    ("catalog.build_s", "s"), ("catalog.first_match_calls", "count"),
    ("catalog.first_match_s", "s"), ("catalog.first_match_jobs", "count"),
    ("app.load_count_s", "s"), ("app.load_count_jobs", "count"),
    ("io.xlsx_decode_s", "s"), ("io.xlsx_rows", "count"),
    ("io.read_xlsx_s", "s"), ("io.read_csv_s", "s"),
    ("pipeline.pua_build_s", "s"), ("pipeline.cpa_build_s", "s"),
    ("pipeline.pua_rows_in", "count"), ("pipeline.pua_rows_out", "count"),
    ("pipeline.cpa_rows_in", "count"), ("pipeline.cpa_rows_out", "count"),
    ("pipeline.pua_keep_ratio", "ratio"), ("pipeline.cpa_keep_ratio", "ratio"),
    ("io.csv_sink_s", "s"), ("io.xlsx_sink_s", "s"),
    ("io.csv_sink_jobs", "count"), ("io.xlsx_sink_jobs", "count"),
    ("io.sink_spark_s", "s"), ("io.sink_driver_s", "s"), ("io.sink_bytes_out", "bytes"),
    ("self.app_s", "s"), ("self.storage_s", "s"), ("self.io_s", "s"),
    ("self.pipeline_s", "s"), ("self.ops_s", "s"),
    ("trace.iteration_s", "s"), ("trace.overhead_s", "s"), ("trace.spans", "count"),
    ("failed_frac", "ratio"),
]
LIBRARY_MIX = [
    "b01_pricing_summary", "b07_join_order", "b09_join_chain",
    "q16_dedup_keepfirst", "q18_mode_tiebreak",
    "q111_setsim_join", "x78_minhash_error", "x99_editdist_join",
    "x114_rfm_segments", "x171_graph_longrange", "x102_golden_record"]
for _q in LIBRARY_MIX:
    PER_LAYER += [("query.%s.s" % _q, "s"), ("query.%s.jobs" % _q, "count"),
                  ("query.%s.shuffle_bytes" % _q, "bytes")]


class BenchError(Exception):
    def __init__(self, cause, detail):
        super().__init__("%s: %s" % (cause, detail))
        self.cause = cause


def log(msg):
    print("[etlbench] " + msg, file=sys.stderr, flush=True)


# --- build --------------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the root project and the harness with sbt (offline, the root
    build's own settings); return the harness JVM's classpath and the root
    build's `--add-opens` options."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError("build", "root project file %s not found next to etlbench/" % need)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("build", "sbt or java is not on PATH")
    stamp = _source_stamp()
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    opens_file = os.path.join(HARNESS, "target", "add-opens.txt")

    def built():
        with open(cp_file) as f, open(opens_file) as g:
            return f.read().strip(), g.read().split()

    if all(map(os.path.exists, (cp_file, opens_file, stamp_file))):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return built()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
        "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~/.sbt/repositories")))
    log_path = os.path.join(STATE, "build.log")
    log("building harness (sbt, offline); log in %s" % log_path)
    t0 = time.time()
    with open(log_path, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        except subprocess.TimeoutExpired:
            raise BenchError("build", "sbt did not finish in 840 s")
    if rc != 0 or not os.path.exists(cp_file) or not os.path.exists(opens_file):
        raise BenchError("build", "sbt exited %d; see %s" % (rc, log_path))
    log("build done in %.0f s" % (time.time() - t0))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return built()


# --- inputs -------------------------------------------------------------------

def payroll_inputs(seed, work):
    sys.path.insert(0, HERE)
    import gen_payroll
    root = os.path.join(work, "inputs")
    shutil.rmtree(root, ignore_errors=True)
    try:
        tables = gen_payroll.generate(root, seed)
    except Exception as e:  # noqa: BLE001 - reported as a named cause
        raise BenchError("generation", repr(e))
    lines = []
    for path in sorted(glob.glob(os.path.join(root, "*", "*"))):
        with open(path, "rb") as f:
            data = f.read()
        lines.append("%s\t%d\t%s" % (os.path.relpath(path, root), len(data),
                                     hashlib.sha256(data).hexdigest()))
    with open(os.path.join(root, "MANIFEST"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return root, tables


def library_inputs():
    manifest = os.path.join(LIBRARY_DATA, "MANIFEST")
    if not os.path.exists(manifest):
        raise BenchError("missing table", "no table manifest at %s" % manifest)
    with open(manifest) as f:
        tables = [line.split("\t") for line in f.read().split("\n") if line]
    for name, *_ in tables:
        if not os.path.exists(os.path.join(LIBRARY_DATA, name)):
            raise BenchError("missing table", name)
    return LIBRARY_DATA, sum(int(t[3]) for t in tables)


# --- JVM ----------------------------------------------------------------------

def jvm(built, tag, deadline, **args):
    """Run the harness JVM with `args` and return its result file. Its
    temporary directory is fresh, so pay-once files are paid every time."""
    cp, opens = built
    work = args["work"]
    out = os.path.join(work, tag + ".json")
    tmp = os.path.join(work, tag + "-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", *opens, "-Xms1g", "-Xmx1g", "-Djava.io.tmpdir=" + tmp,
            "-cp", cp, "etlbench.Harness"] +
           [x for k, v in args.items() for x in ("--" + k, str(v))] + ["--out", out])
    with open(os.path.join(work, tag + ".log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("run", "harness JVM (%s) exceeded the run's time limit" % tag)
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        raise BenchError("run", "harness JVM (%s) exited %d; see %s" % (
            tag, rc, os.path.join(work, tag + ".log")))
    with open(out) as f:
        res = json.load(f)
    if "fatal" in res:
        cause = "generation" if args["workload"] != "library_mix" else "missing table"
        raise BenchError(cause, res["fatal"])
    return res


# --- output checks ------------------------------------------------------------

def check_payroll(work, tables, iters):
    """Check iteration 0's files against the DuckDB oracle; every other
    iteration must reproduce iteration 0's digests. Returns the number of
    failed iterations."""
    sys.path.insert(0, HERE)
    import oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    first_dir = os.path.join(work, "out", "iter-0")
    ok = iters[0]["error"] is None
    for prefix, names in (("PUA", oracle.PUA_TABLES), ("CPA", oracle.CPA_TABLES)):
        try:
            header, rows = oracle.run(sql[prefix.lower()], tables, names)
        except Exception as e:  # noqa: BLE001 - reported as a named cause
            raise BenchError("oracle mismatch", "the %s DuckDB oracle did not run: %r" % (prefix, e))
        csv_path = glob.glob(os.path.join(first_dir, prefix + "_*.csv"))
        xlsx_path = glob.glob(os.path.join(first_dir, prefix + "_*.xlsx"))
        if not csv_path or not xlsx_path:
            log("oracle: %s outputs missing from the first iteration" % prefix)
            ok = False
            continue
        want = oracle.csv_bytes(header, rows)
        with open(csv_path[0], "rb") as f:
            got = f.read()
        if got != want:
            log("oracle: %s CSV differs from DuckDB, %s" % (
                prefix, oracle.first_difference(want, got)))
            ok = False
        if oracle.read_xlsx_cells(xlsx_path[0]) != oracle.xlsx_cells(header, rows):
            log("oracle: %s XLSX cells differ from DuckDB" % prefix)
            ok = False
        if not rows:
            log("oracle: %s output is empty" % prefix)
            ok = False
    good = iters[0]["digests"] if ok else None
    return sum(1 for it in iters if it["error"] is not None or it["digests"] != good)


def check_library(iters):
    with open(LIBRARY_EXPECTED) as f:
        expected = json.load(f)
    failed = 0
    for it in iters:
        for q in LIBRARY_MIX:
            if it["digests"].get(q) != expected.get(q):
                failed += 1
    if failed:
        bad = sorted({q for it in iters for q in LIBRARY_MIX if it["digests"].get(q) != expected.get(q)})
        log("library_mix: results differ from the recorded oracle-checked digests: %s" % bad)
    return failed


# --- main ---------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    built = build()
    deadline = time.time() + RUN_ALLOWANCE + a.seconds
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    payroll = a.workload != "library_mix"
    if payroll:
        inputs, tables = payroll_inputs(a.seed, work)
        input_rows = len(tables["pua"][1]) + len(tables["bw"][1]) + len(tables["mn"][1])
        extra = {}
    else:
        inputs, input_rows = library_inputs()
        extra = {"queries": ",".join(LIBRARY_MIX)}
    log("inputs ready in %.1f s" % (time.time() - t_start))

    res = jvm(built, "run", deadline, mode="run", workload=a.workload, inputs=inputs, work=work,
              seconds=a.seconds, trace=a.trace, **extra)
    iters = res["iterations"]
    if payroll:
        failed = check_payroll(work, tables, iters)
        attempted = len(iters)
    else:
        failed = check_library(iters)
        attempted = len(iters) * len(LIBRARY_MIX)
    errors = [it["error"] for it in iters if it["error"]]
    for e in errors:
        log("iteration failed: %s" % e)

    plain = [it["seconds"] for it in iters if it["kind"] == "run"]
    if a.trace == 0:
        run_s = median(plain)
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "run_s": (run_s, "s"),
            "first_run_s": (iters[0]["seconds"], "s"),
            "input_rows_per_s": (input_rows / run_s, "rows/s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "driver_alloc_mb": (median([it["alloc_mb"] for it in iters if it["kind"] == "run"]), "MB"),
        }
    else:
        layers = res["layers"]
        traced = [it["seconds"] for it in iters if it["kind"] == "traced"]
        values = {name: median([m.get(name, 0.0) for m in layers]) for name, _ in PER_LAYER}
        values["trace.overhead_s"] = median(traced) - median(plain)
        values["failed_frac"] = failed / attempted
        if payroll:
            values["pipeline.pua_rows_in"] = len(tables["pua"][1])
            values["pipeline.cpa_rows_in"] = len(tables["bw"][1]) + len(tables["mn"][1])
            values["pipeline.pua_keep_ratio"] = values["pipeline.pua_rows_out"] / values["pipeline.pua_rows_in"]
            values["pipeline.cpa_keep_ratio"] = values["pipeline.cpa_rows_out"] / values["pipeline.cpa_rows_in"]
        metrics = {name: (values[name], unit) for name, unit in PER_LAYER}
        log("spans written to %s" % os.path.join(work, "trace_spans.json"))

    log("%d iterations in %.1f s (%s)" % (len(iters), time.time() - t_start,
        ", ".join("%s %.2f" % (it["kind"], it["seconds"]) for it in iters)))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if failed:
        raise BenchError("run" if errors else "oracle mismatch",
                         "%d of %d operations failed" % (failed, attempted))


def _terminate(signum, frame):
    raise BenchError("run", "stopped by signal %d" % signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        main()
    except BenchError as e:
        log("FAILED (%s)" % e)
        sys.exit(EXIT[e.cause])
