#!/usr/bin/env python3
"""The graft benchmark: one workload per run, timed from outside the engine.

    python3 perfbench/run.py --workload etl|index --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py record          # re-record reference digests
    python3 perfbench/run.py compare A.json B.json

Run from the repository root. The first run builds the engine and the
harness with sbt (into `target/` and `perfbench/target/`) and writes the
synthetic input tables under `.bench_build/`; later runs reuse both while
the sources are unchanged. Each run prints, as its last stdout line, one
JSON object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics untraced, per-layer metrics with `--trace 1`), and keeps the full
result, with its host shape, under `.bench_build/perfbench/results/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import datagen  # noqa: E402

SF = 0.01
JVM_HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ("etl", "index")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Paths:
    def __init__(self, root):
        self.root = root
        self.engine_src = os.path.join(root, "src", "main", "scala", "graft")
        self.bench = os.path.join(root, "perfbench")
        self.out = os.path.join(root, ".bench_build", "perfbench")
        self.data = os.path.join(self.out, f"data-sf{SF}")
        self.results = os.path.join(self.out, "results")
        self.digests = os.path.join(self.bench, "digests.json")
        self.classpath = os.path.join(self.out, "classpath.txt")


def nproc():
    return len(os.sched_getaffinity(0))


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs:
    how much a noisy neighbour took from the run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_hash(paths, h):
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())


def ensure_build(p):
    """Compile the engine and the harness unless their sources are unchanged
    since the last build in this checkout."""
    h = hashlib.sha256()
    tree_hash([os.path.join(p.root, "src", "main"), os.path.join(p.root, "build.sbt"),
               os.path.join(p.root, "project", "build.properties"),
               os.path.join(p.bench, "src"), os.path.join(p.bench, "build.sbt"),
               os.path.join(p.bench, "project", "build.properties")], h)
    stamp = os.path.join(p.out, "build.stamp")
    if (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and os.path.exists(p.classpath)):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine and harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=p.bench, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S)
    out = r.stdout.decode(errors="replace")
    if r.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    os.makedirs(p.out, exist_ok=True)
    # the exported classpath is the one output line that is not a log line
    with open(p.classpath, "w") as f:
        f.write([ln for ln in out.splitlines() if ln and not ln.startswith("[")][-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def ensure_data(p):
    h = hashlib.sha256(f"sf={SF}".encode())
    tree_hash([os.path.join(p.bench, "datagen.py")], h)
    stamp = os.path.join(p.data, "data.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(p.data, ignore_errors=True)
    datagen.generate(p.data, SF)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def java_cmd(p, work, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", open(p.classpath).read().strip(), main, *args]


class Child:
    """A JVM child whose stderr lines are timestamped on arrival and whose
    peak RSS is read from the kernel when it is reaped."""

    def __init__(self, cmd, env, log_path, deadline):
        self.launch = time.monotonic()
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        self.lines = []  # (arrival monotonic s, line)
        self.stdout = b""
        self.rss_kb = 0
        self.status = None
        t_err = threading.Thread(target=self._read_err, daemon=True)
        t_out = threading.Thread(target=self._read_out, daemon=True)
        t_err.start()
        t_out.start()
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.kill)
        timer.start()
        t_err.join()
        t_out.join()
        _, status, ru = os.wait4(self.proc.pid, 0)
        timer.cancel()
        self.proc.returncode = os.waitstatus_to_exitcode(status)
        self.status = self.proc.returncode
        self.rss_kb = ru.ru_maxrss
        self.seconds = time.monotonic() - self.launch
        self.log.close()

    def _read_err(self):
        for raw in self.proc.stderr:
            now = time.monotonic()
            line = raw.decode(errors="replace").rstrip("\n")
            self.lines.append((now, line))
            self.log.write(line + "\n")

    def _read_out(self):
        self.stdout = self.proc.stdout.read()

    def kill(self):
        try:
            self.proc.kill()
        except OSError:
            pass


# ---- metrics -----------------------------------------------------------------

def passes(r, kind):
    return [x for x in r["passes"] if x["kind"] == kind]


def end_to_end(r, serve):
    wl = r["workload"]
    if wl == "index":
        wall = statistics.median([x["wall_ms"] for x in passes(r, "measured")]) / 1000.0
        cold, lat = serve["cold_s"], serve["batch_ms"]
    else:
        # the wall time of a typical pass: each query at its median
        measured = [o for o in r["ops"] if o["kind"] == "measured"]
        wall = sum(statistics.median([o["ms"] for o in measured if o["name"] == q])
                   for q in dict.fromkeys(o["name"] for o in measured)) / 1000.0
        cold = r["cold_s"]
        lat = [o["ms"] for o in measured]
    rss_kb = max(r["rss_kb"], serve["rss_kb"] if serve else 0)
    return {
        "setup_s": (r["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "cold_s": (cold, "s"),
        "query_p50_ms": (benchlib.percentile(lat, 50), "ms"),
        "query_p75_ms": (benchlib.percentile(lat, 75), "ms"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
    }, len(lat)


INDEX_OPS = {"store.write_s": ("knn_save", "ingest_save"),
             "store.read_s": ("ingest_resume", "knn_load"),
             "streaming.fold_s": ("ingest_fold",),
             "operators.knn_build_s": ("knn_build",),
             "operators.maintain_s": ("knn_maintain",)}


def per_layer(r, serve):
    cores = r["cores"]
    traced_passes = passes(r, "traced")
    untraced_wall_s = statistics.median([x["wall_ms"] for x in passes(r, "measured")]) / 1000.0
    n = max(1, len(traced_passes))
    traced_wall_ms = sum(x["wall_ms"] for x in traced_passes)
    spans = [s for s in r["spans"] if s["traced"]]
    name_of = {str(s["id"]): s["name"] for s in spans}
    phase_ms = {}
    for s in spans:
        if s["kind"] in ("phase", "op"):
            phase_ms[s["name"]] = phase_ms.get(s["name"], 0.0) + s["end_ms"] - s["start_ms"]
    stages = [st for st in r["stages"] if st["group"] in name_of]
    jobs = [j for j in r["jobs"] if j["group"] in name_of]
    task_sum = sum(st["task_sum_ms"] for st in stages)
    store = [x for x in r["store"] if x["traced"]]
    written = sum(x["bytes"] for x in store)
    m = {
        "core.setup_s": (r["session_s"], "s"),
        "queries.build_ms": (phase_ms.get("build", 0.0) / n, "ms"),
        "queries.build_jobs": (sum(1 for j in jobs if name_of[j["group"]] == "build") / n,
                               "count"),
        "catalyst.plan_ms": (phase_ms.get("plan", 0.0) / n, "ms"),
        "spark.exec_ms": (benchlib.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs]) / n,
                          "ms"),
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.stages": (len(stages) / n, "count"),
        "spark.tasks": (sum(st["tasks_ended"] for st in stages) / n, "count"),
        "spark.sched_delay_ms": (sum(st["sched_delay_ms"] for st in stages) / n, "ms"),
        "spark.task_sum_ms": (task_sum / n, "ms"),
        "spark.core_util": (benchlib.core_util(task_sum, traced_wall_ms, cores), "ratio"),
        "spark.serial_stages": (sum(1 for st in stages if benchlib.is_serial_stage(st, cores))
                                / n, "count"),
        "spark.shuffle_read_mb": (sum(st["shuffle_read_bytes"] for st in stages) / n / 2**20,
                                  "MB"),
        "spark.shuffle_write_mb": (sum(st["shuffle_write_bytes"] for st in stages) / n / 2**20,
                                   "MB"),
        "spark.spill_mb": (sum(st["spill_bytes"] for st in stages) / n / 2**20, "MB"),
        "spark.failed_tasks": (sum(st["failed_tasks"] for st in stages) / n, "count"),
        "jvm.gc_ms": (sum(x["gc_ms"] for x in traced_passes) / n, "ms"),
        "store.written_mb": (written / n / 2**20, "MB"),
        "store.files": (sum(x["files"] for x in store) / n, "count"),
        "store.write_amp": (written / n / r["input_bytes"] if r["input_bytes"] else 0.0,
                            "ratio"),
        "serve.load_s": (serve["load_s"] if serve else 0.0, "s"),
        "trace.overhead_s": (statistics.median([x["wall_ms"] for x in traced_passes]) / 1000.0
                             - untraced_wall_s, "s"),
    }
    for name, ops in INDEX_OPS.items():
        m[name] = (sum(phase_ms.get(o, 0.0) for o in ops) / n / 1000.0, "s")
    return m


# ---- one run -----------------------------------------------------------------

def run_serve(p, work, serve_in, env, deadline):
    out = {"rss_kb": 0, "ok": False, "cold_s": 0.0, "batch_ms": [0.0], "load_s": 0.0,
           "edges": None}
    if serve_in is None:
        log("no serve: the arc left no index store")
        return out
    child = Child(java_cmd(p, work, "graft.KnnServeMain",
                           [serve_in["store"], *serve_in["deltas"]]),
                  env, os.path.join(work, "serve.log"), deadline)
    log(f"serve JVM: {child.seconds:.1f} s")
    batches = [(t, line) for t, line in child.lines if line.startswith("KNNSERVE_BATCH ")]
    out["rss_kb"] = child.rss_kb
    if child.status != 0 or len(batches) != len(serve_in["deltas"]):
        log(f"serve child exited {child.status} after {len(batches)} batches")
        return out
    cold, steady = benchlib.batch_latencies(child.launch, [t for t, _ in batches])
    final = json.loads(child.stdout.decode().strip().splitlines()[-1])
    edges = json.loads(batches[-1][1].split(" ", 1)[1])["edges"]
    out.update(cold_s=cold, batch_ms=steady, load_s=final["load_sec"], edges=edges,
               ok=edges == serve_in["expected_edges"])
    if not out["ok"]:
        log(f"serve edges {edges} != one-shot serve {serve_in['expected_edges']}")
    return out


def host_shape(p, r):
    rev = "unknown"
    if os.path.isdir(os.path.join(p.root, ".git")):
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=p.root, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or rev
        except (OSError, subprocess.SubprocessError):
            pass
    return dict(r["host"], nproc=nproc(), spark_graft_cpus=str(r["cores"]),
                git_revision=rev)


def run(p, workload, seed, seconds, trace):
    t_start = time.monotonic()
    ensure_build(p)
    ensure_data(p)
    deadline = time.monotonic() + RUN_LIMIT_S
    cores = nproc()
    work = os.path.join(p.out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    steal0 = steal_s()
    try:
        out_json = os.path.join(work, "harness.json")
        launch_ms = int(time.time() * 1000)
        h = Child(java_cmd(p, work, "graftbench.Main", [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--data", p.data,
            "--work", work, "--out", out_json, "--digests", p.digests,
            "--launch-ms", str(launch_ms)]),
            env, os.path.join(work, "harness.log"), deadline)
        if h.status != 0 or not os.path.exists(out_json):
            sys.stderr.write("\n".join(line for _, line in h.lines[-40:]) + "\n")
            raise SystemExit(f"perfbench: harness exited {h.status}")
        log(f"harness JVM: {h.seconds:.1f} s")
        r = json.load(open(out_json))
        r["rss_kb"] = h.rss_kb
        attempted, failed = r["attempted"], r["failed"]
        serve = None
        if workload == "index":
            serve = run_serve(p, work, r["serve"], env, deadline)
            attempted += 1
            failed += 0 if serve["ok"] else 1
        r["host"] = host_shape(p, r)
        e2e, n_lat = end_to_end(r, serve)
        metrics = per_layer(r, serve) if trace else e2e
        correct = failed == 0 and not r["check_failures"]
        result = {
            "workload": workload, "seed": seed, "trace": trace, "host": r["host"],
            "correct": correct, "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted, "check_failures": r["check_failures"],
            "op_ms": {o: [x["ms"] for x in r["ops"] if x["name"] == o]
                      for o in dict.fromkeys(x["name"] for x in r["ops"])},
            "pass_ms": [x["wall_ms"] for x in r["passes"]],
            "steal_s": steal_s() - steal0,
            "latency_samples": n_lat,
            "latency_tail_percentile": benchlib.highest_tail_percentile(n_lat),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        if trace:
            selfs = benchlib.self_times(r["spans"])
            result["spans"] = [dict(s, self_ms=selfs[s["id"]]) for s in r["spans"]]
            by_name = {}
            for s in result["spans"]:
                if s["traced"]:
                    key = f"{s['kind']} {s['name']}"
                    by_name[key] = by_name.get(key, 0.0) + s["self_ms"]
            for key, ms in sorted(by_name.items(), key=lambda kv: -kv[1])[:12]:
                log(f"  self time {key}: {ms:.0f} ms")
        os.makedirs(p.results, exist_ok=True)
        name = f"{workload}-seed{seed}-trace{trace}.json"
        with open(os.path.join(p.results, name), "w") as f:
            json.dump(result, f, indent=1)
        log(f"{workload} seed {seed}: {attempted} ops, {failed} failed, "
            f"failed_frac {failed / attempted:.4f}, {time.monotonic() - t_start:.1f} s total; "
            f"host {json.dumps(r['host'])}")
        for k, m in result["metrics"].items():
            log(f"  {k} = {m['value']:.6g} {m['unit']}")
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": result["metrics"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- record and compare ------------------------------------------------------

def record(p):
    """Re-record the reference digests: run every workload's ops once, have
    tools/check.py compare the outputs with the DuckDB oracles, and write
    perfbench/digests.json only when every output passes."""
    ensure_build(p)
    ensure_data(p)
    rec = os.path.join(p.out, "record")
    shutil.rmtree(rec, ignore_errors=True)
    os.makedirs(rec)
    digests, oracles = {}, {}
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    for wl in WORKLOADS:
        work = os.path.join(p.out, f"record-{wl}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out_json = os.path.join(work, "digests.json")
        c = Child(java_cmd(p, work, "graftbench.Main", [
            "--workload", wl, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--cores", str(nproc()), "--data", p.data, "--work", work, "--out", out_json,
            "--launch-ms", str(int(time.time() * 1000)), "--record", rec]),
            env, os.path.join(work, "harness.log"), time.monotonic() + 600)
        if c.status != 0:
            raise SystemExit(f"perfbench: record run for {wl} exited {c.status}")
        got = json.load(open(out_json))
        digests.update(got["digests"])
        oracles.update(got["oracles"])
        shutil.rmtree(work)
    with open(os.path.join(rec, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    check = os.path.join(p.root, "tools", "check.py")
    r = subprocess.run([sys.executable, check, p.data, rec], capture_output=True, text=True)
    sys.stderr.write(r.stdout)
    if r.returncode != 0 or "FAIL" in r.stdout or set(oracles) != set(digests):
        raise SystemExit("perfbench: outputs are not oracle-green; digests not written")
    with open(p.digests, "w") as f:
        json.dump({"sf": SF, "cores": nproc(), "digests": digests}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    shutil.rmtree(rec)
    log(f"wrote {len(digests)} digests to {p.digests}")


def compare_cmd(argv):
    ap = argparse.ArgumentParser(prog="run.py compare")
    ap.add_argument("base")
    ap.add_argument("head")
    a = ap.parse_args(argv)
    try:
        lines = benchlib.compare(json.load(open(a.base)), json.load(open(a.head)))
    except benchlib.ShapeMismatch as e:
        raise SystemExit(f"perfbench compare refused: {e}")
    print("\n".join(lines))


def main(argv):
    p = Paths(os.getcwd())
    if not (os.path.isdir(p.engine_src) and os.path.isfile(os.path.join(p.root, "build.sbt"))):
        raise SystemExit("perfbench: run from the repository root (engine sources not found)")
    if argv[:1] == ["compare"]:
        return compare_cmd(argv[1:])
    if argv[:1] == ["record"]:
        return record(p)
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    res = run(p, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
