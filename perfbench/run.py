"""Benchmark entry point.

    python3 perfbench/run.py --workload <lake_rw|flight_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
from `src/main` and the harness with the Scala compiler shipped in
`$SPARK_HOME/jars` (into `.bench_build/`, reused while the sources are
unchanged). Each run generates its inputs from the seed, starts one engine
JVM, measures for `--seconds` seconds, checks every result, prints a report
and ends with one JSON line. See `perfbench/README.md` for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_rw", "flight_mix")
# Spark runs local[NPROC]; flight_mix runs NPROC clients.
NPROC = os.cpu_count() or 1
# Tail percentile per workload: the highest one with at least 10 samples
# beyond it at a 12-second run (~26 reads on lake_rw, ~260 on flight_mix).
TAIL_PCT = {"lake_rw": 60, "flight_mix": 96}
DEADLINE_S = 170
MAIN_CLASS = "org.apache.spark.sql.graftbench.Harness"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("SPARK_HOME must point at a Spark 4 distribution (its jars/ are the classpath)")
    return os.path.join(home, "jars")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no engine sources under {main}: run from the root of a source checkout")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out_dir, files):
    compiler = [os.path.join(jars, f"scala-{n}-2.13.17.jar") for n in ("compiler", "library", "reflect")]
    os.makedirs(out_dir, exist_ok=True)
    argfile = out_dir + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compile failed ({out_dir})", 3)


def build():
    """Compile engine + harness once per source state; returns the
    runtime classpath and the source digest."""
    jars = spark_jars()
    engine = sources()
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for p in engine + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    classes, hclasses = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        log("building engine and harness from source")
        t = time.time()
        for d in (classes, hclasses):
            shutil.rmtree(d, ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), classes, engine)
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        scalac(jars, classes + ":" + os.path.join(jars, "*"), hclasses, harness)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t:.1f}s")
    return [hclasses, classes, os.path.join(jars, "*")], digest


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs; a virtual machine whose host is
    busy shows it as steal."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def steal_frac(before, after):
    if not before or not after or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


# ----------------------------------------------------------------- engine

class Engine:
    """The engine JVM of one run; protocol lines on stdout start with @@."""
    live = []

    def __init__(self, cp, work, args):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
               # no hsperfdata file in the system temp dir: the JVM writes nowhere
               # outside the run's work directory
               ["-XX:-UsePerfData", "-Xmx3g", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                f"-Dderby.system.home={tmp}", "-cp", ":".join(cp), MAIN_CLASS] +
               [f"{k}={v}" for k, v in args.items()])
        self.log_path = os.path.join(work, "engine.log")
        self.logf = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.logf, text=True, bufsize=1)
        Engine.live.append(self.proc)
        self.lines = []
        self.cond = threading.Condition()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                with self.cond:
                    self.lines.append(line[2:].strip())
                    self.cond.notify_all()
        with self.cond:
            self.lines.append("EOF")
            self.cond.notify_all()

    def expect(self, word, deadline):
        with self.cond:
            while True:
                for i, line in enumerate(self.lines):
                    if line.split()[0] in (word, "EOF"):
                        del self.lines[: i + 1]
                        if line.startswith("EOF"):
                            self.die(f"engine exited before {word}")
                        return line
                left = deadline - time.time()
                if left <= 0:
                    self.die(f"engine timed out waiting for {word}")
                self.cond.wait(min(left, 1.0))

    def send(self, word):
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def wait(self, deadline):
        try:
            self.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.die("engine did not exit in time")
        self.logf.close()
        if self.proc.returncode != 0:
            self.die(f"engine exited with {self.proc.returncode}")

    def die(self, msg):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.logf.close()
        with open(self.log_path) as f:
            tail = f.read()[-4000:]
        fail(f"{msg}\n--- engine log tail ---\n{tail}", 4)


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def dist(xs):
    return {"median": pct(xs, 50), "q1": pct(xs, 25), "q3": pct(xs, 75), "n": len(xs)}


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def chunk_rates(stmts, ok, size):
    """Correct statements per second over consecutive chunks of statements
    (the within-run spread of the throughput); for concurrent clients,
    over 2-second windows of completion time."""
    if stmts and "end_s" in stmts[0]:
        wins = int(max(s["end_s"] for s in stmts) // 2)
        return [sum(1 for s in stmts if ok(s) and 2 * w <= s["end_s"] < 2 * w + 2) / 2.0
                for w in range(wins)]
    rates = []
    for i in range(0, len(stmts) - size + 1, size):
        c = stmts[i:i + size]
        busy = sum(s["ms"] for s in c) / 1e3
        if busy > 0:
            rates.append(sum(1 for s in c if ok(s)) / busy)
    return rates


# --------------------------------------------------------------- checking

def check_lake(res, ops, orders):
    """Every read against a DuckDB replay of the same op stream."""
    expected, written = workloads.lake_replay(ops, res["ops_run"], orders)
    res["rows_written"] = {f"op{i}": c for i, c in written.items()}
    bad = {}
    for s in all_stmts(res):
        i = int(s["name"][2:])
        if s["kind"] == "read" and s["ok"] and expected[i][1] != s["rows"]:
            bad[i] = f"op{i} result differs from the DuckDB replay: {ops[i][2][:160]}"
    return (lambda s: s["ok"] and int(s["name"][2:]) not in bad), list(bad.values())


def all_stmts(res):
    return res["timed"]["stmts"] + (res["traced"]["stmts"] if "traced" in res else [])


# ---------------------------------------------------------------- running

def run_lake(args, cp, work, data_dir):
    orders = f"{data_dir}/orders.parquet"
    ops = workloads.lake_ops(args.seed, orders)
    ops_path = os.path.join(work, "ops.tsv")
    with open(ops_path, "w") as f:
        f.write("\n".join(f"{k}\t{w}\t{sql}" for k, w, sql, _ in ops))
    eng = Engine(cp, work, dict(workload="lake_rw", data=data_dir, work=work, seconds=args.seconds,
                                trace=args.trace, seed=args.seed, cores=NPROC, ops=ops_path))
    deadline = START + DEADLINE_S
    eng.expect("SETUP", deadline)
    eng.expect("DONE", deadline)
    eng.wait(deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    ok, problems = check_lake(res, ops, orders)
    return res, ok, problems


def run_flight(args, cp, work, data_dir):
    templates, ref, reflection = workloads.flight_spec(f"{data_dir}/orders.parquet",
                                                       f"{data_dir}/lineitem.parquet")
    spec = os.path.join(work, "flight_spec.tsv")
    grants = f"{data_dir}/orders.parquet,{data_dir}/lineitem.parquet"
    with open(spec, "w") as f:
        f.write("\n".join([f"reflection\t{reflection}", f"grants\t{grants}"] +
                          [f"{k}\t{v}" for k, v in ref.items()]))
    eng = Engine(cp, work, dict(workload="flight_mix", data=data_dir, work=work, seconds=args.seconds,
                                trace=args.trace, seed=args.seed, cores=NPROC, ops=spec))
    deadline = START + DEADLINE_S
    port = int(eng.expect("READY", deadline).split()[1])
    t = time.perf_counter()
    with open(os.path.join(work, "reference.json")) as f:
        expected = workloads.Expected(json.load(f))
    user = (b"bench_user", b"user-pw")
    warm, _ = workloads.flight_clients(port, NPROC, args.seed, -1, templates, expected,
                                       None, *user)
    warm_s = time.perf_counter() - t
    plan = [False, True, True, False] if args.trace else [False]  # as in Harness.phases
    phases = {False: {"stmts": [], "busy_s": 0.0}, True: {"stmts": [], "busy_s": 0.0}}
    for q, traced in enumerate(plan):
        if traced:
            eng.send("trace")
            eng.expect("ACK", deadline)
        recs, wall = workloads.flight_clients(port, NPROC, args.seed, q, templates,
                                              expected, args.seconds / len(plan), *user)
        if traced:
            eng.send("pause")
            eng.expect("ACK", deadline)
        for r in recs:  # completion times continue from the side's earlier quarter
            r["end_s"] += phases[traced]["busy_s"]
        phases[traced]["stmts"] += recs
        phases[traced]["busy_s"] += wall
    if args.trace:
        with open(os.path.join(work, "flight_texts.txt"), "w") as f:
            f.write("\n".join(r["sql"] for r in phases[True]["stmts"]))
    timed = phases[False]["stmts"]
    phases = {"timed": phases[False], **({"traced": phases[True]} if args.trace else {})}
    eng.send("stop")
    eng.expect("DONE", deadline)
    eng.wait(deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    res.update(phases)
    res["setup_s"] += warm_s
    res["warmup_s"] = warm_s
    problems = [f"{r['fam']}: {r['err'] or 'result differs from the in-process reference'}: "
                f"{r['sql'][:160]}" for r in warm + timed + phases.get("traced", {}).get("stmts", [])
                if not r["ok"]]
    return res, (lambda s: s["ok"]), problems


def end_to_end(args, res, ok):
    stmts = res["timed"]["stmts"]
    busy = res["timed"]["busy_s"]
    correct = sum(1 for s in stmts if ok(s))
    reads = [s["ms"] for s in stmts if s.get("kind", "read") == "read"]
    writes = [s["ms"] for s in stmts if s.get("kind") == "write"]
    tail = TAIL_PCT[args.workload]
    m = {
        "setup_s": (res["setup_s"], "s", None),
        "stmt_per_s": (correct / busy if busy else 0.0, "1/s",
                       dist(chunk_rates(stmts, ok, len(workloads.LAKE_CYCLE)))),
        "read_p50_ms": (pct(reads, 50), "ms", dist(reads)),
        "read_tail_ms": (pct(reads, tail), "ms", dict(dist(reads), percentile=tail)),
        "retained_heap_mb": (res["retained_heap_mb"], "MB", None),
    }
    extra = {"failed_frac": (1 - correct / len(stmts) if stmts else 1.0, "ratio",
                             {"attempted": len(stmts), "failed": len(stmts) - correct})}
    if args.workload == "lake_rw":
        extra["write_p50_ms"] = (pct(writes, 50), "ms", dist(writes))
        extra["write_tail_ms"] = (pct(writes, tail), "ms", dict(dist(writes), percentile=tail))
        extra["bytes_stored_per_user_byte"] = (res["stored_bytes"] / res["user_bytes"], "ratio", None)
    return m, extra, len(stmts), len(stmts) - correct


def per_layer(args, res, ok):
    """Per-layer metrics from the traced phase (see README for each)."""
    w = args.workload
    tr = res["traced"]
    stmts = tr["stmts"]
    z = 0.0
    untraced = sum(1 for s in res["timed"]["stmts"] if ok(s)) / res["timed"]["busy_s"]
    traced = sum(1 for s in stmts if ok(s)) / tr["busy_s"]
    if w == "flight_mix":
        # run-level listener totals per statement; planning phases and
        # exchanges from the harness's timed calls on the statement texts
        # (see Harness.Flight)
        t, plan = res["trace_run"], res["planning"]
        n = max(1, len(stmts))
        L = {k: t[k] / n for k in ("job_ms", "jobs", "tasks", "executor_run_ms",
                                    "executor_cpu_ms", "shuffle_write_mb", "shuffle_read_mb",
                                    "spill_mb", "gc_ms", "input_mb")}
        L.update({k: plan[k] for k in ("analyze_ms", "optimize_ms", "physical_ms", "exchanges",
                                       "roundrobin_exchanges")})
        L["task_concurrency_max"] = t["task_concurrency_max"]
        L["slot_util"] = t["executor_run_ms"] / (t["job_ms"] * NPROC) if t["job_ms"] else z
        # no phase spans on this path: the gap is traced wall time with no job running
        gap = max(0.0, t["window_ms"] - t["job_ms"])
        L["gap_ms"] = gap / n
        L["gap_frac"] = gap / t["window_ms"] if t["window_ms"] else z
        probes = t["cache_hits"] + t["cache_misses"]
        L["hit_ratio"] = t["cache_hits"] / probes if probes else z
        L["substitution_frac"] = plan["substituted"]
        L["parse_ms"] = plan["parse_ms"]
        L["graft_frac"] = plan["graft_stmt"]
        flight = {k: mean([s[k] for s in stmts]) for k in ("info_ms", "ttfb_ms", "stream_ms", "batches")}
        flight["mb"] = mean([s["bytes"] for s in stmts]) / 1048576
        accounting = z
    else:
        lay = [s["layers"] for s in stmts]

        def avg(k):
            return mean([x.get(k, 0.0) for x in lay])
        L = {k: avg(k) for k in ("analyze_ms", "optimize_ms", "physical_ms", "job_ms", "gap_ms",
                                  "jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                                  "task_concurrency_max", "shuffle_write_mb", "shuffle_read_mb",
                                  "spill_mb", "gc_ms", "input_mb", "exchanges",
                                  "roundrobin_exchanges")}
        job = sum(x["job_ms"] for x in lay)
        L["slot_util"] = sum(x["executor_run_ms"] for x in lay) / (job * NPROC) if job else z
        wall = sum(x["wall_ms"] for x in lay)
        L["gap_frac"] = sum(x["gap_ms"] for x in lay) / wall if wall else z
        probes = tr["cache_hits"] + tr["cache_misses"]
        L["hit_ratio"] = tr["cache_hits"] / probes if probes else z
        L["substitution_frac"] = z
        L["parse_ms"] = avg("sqlext_parse_ms")
        L["graft_frac"] = avg("graft_stmt")
        flight = dict(info_ms=z, ttfb_ms=z, stream_ms=z, batches=z, mb=z)
        # parse + analyze + optimize + physical + job union + gap vs wall
        parts = ("parse_ms", "analyze_ms", "optimize_ms", "physical_ms", "job_ms", "gap_ms")
        accounting = max([abs(sum(x[k] for k in parts) - x["wall_ms"]) / x["wall_ms"]
                          for x in lay if x["wall_ms"] > 0] or [z])
    src = dict(commit_jobs=z, files_added=z, log_bytes=z, write_amp=z, snapshot_ms=z, live_files=z)
    if w == "lake_rw":
        wl = [s["layers"] for s in stmts if s["kind"] == "write"]
        src = dict(commit_jobs=mean([x["jobs"] for x in wl]),
                   files_added=mean([x["files_added"] for x in wl]),
                   log_bytes=mean([x["log_bytes"] for x in wl]),
                   snapshot_ms=mean([x["snapshot_ms"] for x in wl]),
                   live_files=float(res["live_files"]))
        # bytes the writes added, over the parquet bytes of the rows they wrote
        written = sum(res["rows_written"].get(s["name"], 0) for s in stmts if s["kind"] == "write")
        per_row = res["user_bytes"] / max(1, res["live_rows"])
        src["write_amp"] = sum(x["data_bytes_added"] for x in wl) / max(1.0, written * per_row)
    out = {
        "sqlext.parse_ms": (L["parse_ms"], "ms"),
        "sqlext.graft_stmt_frac": (L["graft_frac"], "ratio"),
        "auth.analyze_ms": (L["analyze_ms"], "ms"),
        "accel.optimize_ms": (L["optimize_ms"], "ms"),
        "accel.plan_cache_hit_ratio": (L["hit_ratio"], "ratio"),
        "accel.substitution_frac": (L["substitution_frac"], "ratio"),
        "plans.physical_ms": (L["physical_ms"], "ms"),
        "plans.exchanges": (L["exchanges"], "count"),
        "spark.jobs": (L["jobs"], "count"),
        "spark.tasks": (L["tasks"], "count"),
        "spark.job_ms": (L["job_ms"], "ms"),
        "spark.executor_run_ms": (L["executor_run_ms"], "ms"),
        "spark.executor_cpu_ms": (L["executor_cpu_ms"], "ms"),
        "spark.task_concurrency_max": (L["task_concurrency_max"], "count"),
        "spark.slot_util": (L["slot_util"], "ratio"),
        "spark.shuffle_write_mb": (L["shuffle_write_mb"], "MB"),
        "spark.shuffle_read_mb": (L["shuffle_read_mb"], "MB"),
        "spark.spill_mb": (L["spill_mb"], "MB"),
        "spark.gc_ms": (L["gc_ms"], "ms"),
        "spark.input_mb": (L["input_mb"], "MB"),
        "engine.roundrobin_exchanges": (L["roundrobin_exchanges"], "count"),
        "driver.gap_ms": (L["gap_ms"], "ms"),
        "driver.gap_frac": (L["gap_frac"], "ratio"),
        "sources.commit_jobs": (src["commit_jobs"], "count"),
        "sources.files_added": (src["files_added"], "count"),
        "sources.log_bytes": (src["log_bytes"], "bytes"),
        "sources.write_amp": (src["write_amp"], "ratio"),
        "sources.snapshot_ms": (src["snapshot_ms"], "ms"),
        "sources.live_files": (src["live_files"], "count"),
        "server.flight.info_ms": (flight["info_ms"], "ms"),
        "server.flight.ttfb_ms": (flight["ttfb_ms"], "ms"),
        "server.flight.stream_ms": (flight["stream_ms"], "ms"),
        "server.flight.mb": (flight["mb"], "MB"),
        "server.flight.batches": (flight["batches"], "count"),
        "trace.overhead_frac": (1 - traced / untraced if untraced else z, "ratio"),
        "trace.accounting_err_max": (accounting, "ratio"),
    }
    return out


def main():
    global START
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_before, cpu_before = loadavg(), cpu_times()
    cp, digest = build()
    START = time.time()  # the build may take long once; each run's deadline starts here
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        gen.write(data_dir, args.seed)
        if args.workload == "flight_mix":
            res, ok, problems = run_flight(args, cp, work, data_dir)
        else:
            res, ok, problems = run_lake(args, cp, work, data_dir)
        e2e, extra, attempted, failed = end_to_end(args, res, ok)
        layers = per_layer(args, res, ok) if args.trace else None
    finally:
        for p in Engine.live:  # never leave an engine JVM behind
            if p.poll() is None:
                p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "nproc": NPROC,
              "commit": commit(), "source_digest": digest,
              "loadavg_before": load_before, "loadavg_after": loadavg(),
              "cpu_steal_frac": steal_frac(cpu_before, cpu_times()),
              "setup_parts_s": {k: res.get(k) for k in ("session_s", "prepare_s", "warmup_s")}}
    print("run " + json.dumps(record))
    for p in problems[:20]:
        print(f"FAILED {p}")
    for name, (value, unit, d) in list(e2e.items()) + list(extra.items()):
        detail = "" if d is None else " " + json.dumps(d)
        print(f"metric {args.workload} {name} = {value:.6g} {unit}{detail}")
    if layers is not None:
        for name, (value, unit) in layers.items():
            print(f"layer {args.workload} {name} = {value:.6g} {unit}")
    metrics = layers if layers is not None else {k: (v, u) for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
