"""Door-to-answer benchmark: the one command.

    python3 perfbench/run.py --workload dash --seed 1 --seconds 15 --trace 0

Builds the engine from the checkout's sources (perfbench/build.py),
makes the fixtures once (perfbench/fixtures.py), generates the seeded
statement plan with its expected answers (perfbench/workloads.py) and
then either

  --trace 0: starts fresh `graft.Serve` processes, times set-up, drives
             the workload through the real door from a client JVM
             (perfbench/scala/Door.scala) and reports the end-to-end
             metrics, or
  --trace 1: hosts the engine in-process (perfbench/scala/Trace.scala),
             replays the same statements through each layer's public
             entry points inside spans and reports the per-layer metrics.

Every answer is checked.  Human-readable report lines go to stdout
first; the last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`.  See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# the server heap is fixed and pre-touched: G1's adaptive heap growth
# otherwise makes peak RSS a function of GC timing (0.24 quartile spread
# over 5 seeds). So peak_rss_mb is the 3 GB heap plus off-heap memory,
# and only off-heap memory moves it; the traced run's jvm.heap_peak_mb
# is the heap figure
SERVER_HEAP = "3g"
CLIENT_HEAP = "1g"
END_TO_END = ["setup_s", "latency_p50_ms", "latency_p99_ms", "throughput_qps",
              "rows_per_s", "result_mb_per_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
         "throughput_qps": "1/s", "rows_per_s": "rows/s", "result_mb_per_s": "MB/s",
         "peak_rss_mb": "MB", "insert_latency_p50_ms": "ms", "failed_ratio": "ratio"}


def log(*a):
    print("[perfbench]", *a, flush=True)


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def calibrate():
    """Fixed CPU loop, timed: recorded with every run, never used to drop one."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x + i * i) % 1_000_003
    return round(time.perf_counter() - t0, 4)


def env_stamp(build_root):
    commit = "unknown"
    if os.path.isdir(os.path.join(os.path.dirname(HERE), ".git")):
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=HERE,
                           capture_output=True, text=True)
        commit = r.stdout.strip() or commit
    else:
        engines = sorted(d for d in os.listdir(os.path.join(build_root, "classes"))
                         if d.startswith("engine-"))
        commit = engines[-1] if engines else commit
    return {"nproc": os.cpu_count(), "server_heap": SERVER_HEAP, "commit": commit,
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def percentile(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Server:
    """One `graft.Serve` process on fresh ports."""

    def __init__(self, java, cp, data, rundir, tag):
        self.http, self.native = free_port(), free_port()
        self.rundir = rundir
        env = dict(os.environ, GRAFT_HTTP_PORT=str(self.http),
                   GRAFT_NATIVE_PORT=str(self.native),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        self.logpath = os.path.join(rundir, f"server-{tag}.log")
        self.logf = open(self.logpath, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            java + [f"-Xms{SERVER_HEAP}", f"-Xmx{SERVER_HEAP}", "-XX:+AlwaysPreTouch",
                    f"-Dspark.graft.warehouseDir={rundir}/warehouse",
                    f"-Dspark.graft.projectionDir={rundir}/projections",
                    "-cp", cp, "graft.Serve", data],
            env=env, stdout=self.logf, stderr=subprocess.STDOUT, cwd=rundir)

    def query(self, sql, timeout=60):
        req = urllib.request.Request(f"http://127.0.0.1:{self.http}/", data=sql.encode())
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return r.read().decode()

    def wait_ready(self, probe, want, limit=120):
        """Seconds from launch to the first answered query over the door."""
        while time.perf_counter() - self.t0 < limit:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}: {self.tail()}")
            try:
                got = self.query(probe).strip()
            except OSError:
                time.sleep(0.02)
                continue
            secs = time.perf_counter() - self.t0
            if got != want:
                raise RuntimeError(f"first answer {got!r}, expected {want!r}")
            return secs
        raise RuntimeError(f"server not ready after {limit} s: {self.tail()}")

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def tail(self):
        self.logf.flush()
        with open(self.logpath) as f:
            return "".join(l for l in f.readlines()[-15:] if "WARN" not in l)

    def stop(self):
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.logf.close()


def door_run(java, cp, fixture_dir, plan, rundir, phases):
    """Untraced door run: one timed start-up, then the workload. One
    start-up per run: a second costs 11-16 s on 4 cores, which the
    benchmark's time budget does not have."""
    import workloads
    want = str(workloads.ROWS[plan["data"]]["lineitem"])
    server = Server(java, cp, os.path.join(fixture_dir, plan["data"]), rundir, "door")
    try:
        setup = server.wait_ready("SELECT count() FROM lineitem", want)
        plan_path = os.path.join(rundir, "plan.json")
        json.dump(plan, open(plan_path, "w"))
        records_path = os.path.join(rundir, "records.jsonl")
        t0 = time.perf_counter()
        r = subprocess.run(java + [f"-Xmx{CLIENT_HEAP}", "-cp", cp, "perfbench.Door", plan_path,
                                   str(server.http), str(server.native), records_path],
                           cwd=rundir, capture_output=True, text=True, timeout=170)
        phases["client_s"] = time.perf_counter() - t0
        if r.returncode != 0:
            raise RuntimeError(f"client failed: {r.stderr[-3000:]}\nserver: {server.tail()}")
        rss = server.peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        server.stop()
        phases["stop_s"] = time.perf_counter() - t0
    recs = [json.loads(l) for l in open(records_path)]
    return setup, rss, recs


def door_metrics(setup, rss, recs):
    ok = [r for r in recs if not r["error"]]
    reads = [r for r in ok if r["kind"] == "read"]
    inserts = [r for r in ok if r["kind"] == "insert"]
    timed = [r for r in recs if r["kind"] in ("read", "insert")]
    start = min(r["start_ms"] for r in timed)
    end = max(r["start_ms"] + r["ms"] for r in timed)
    window_s = max(1e-9, (end - start) / 1000.0)
    lat = [r["ms"] for r in reads]
    rows = sum(r["source_rows"] for r in reads) + sum(r["rows"] for r in inserts)
    big = [r for r in reads if r["export"]] or reads
    mbps = sum(r["bytes"] for r in big) / 1e6 / max(1e-9, sum(r["ms"] for r in big) / 1000.0)
    m = {
        "setup_s": setup,
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p99_ms": percentile(lat, 0.99),
        "throughput_qps": len(reads) / window_s,
        "rows_per_s": rows / window_s,
        "result_mb_per_s": mbps,
        "peak_rss_mb": rss,
    }
    extra = {
        "failed_ratio": (len(recs) - len(ok)) / max(1, len(recs)),
        "insert_latency_p50_ms": percentile([r["ms"] for r in inserts], 0.5),
    }
    counts = {"setup_s": 1, "latency_p50_ms": len(lat), "latency_p99_ms": len(lat),
              "throughput_qps": len(reads), "rows_per_s": len(reads) + len(inserts),
              "result_mb_per_s": len(big), "peak_rss_mb": 1,
              "failed_ratio": len(recs), "insert_latency_p50_ms": len(inserts)}
    return m, extra, counts


def trace_run(java, cp, fixture_dir, plan, rundir, build_root):
    data = os.path.join(fixture_dir, plan["data"])
    plan_path = os.path.join(rundir, "plan.json")
    json.dump(plan, open(plan_path, "w"))
    traces = os.path.join(build_root, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{plan['workload']}-seed{plan['seed']}.spans.jsonl")
    out = os.path.join(rundir, "layers.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    r = subprocess.run(java + [f"-Xmx{SERVER_HEAP}",
                               f"-Dspark.graft.warehouseDir={rundir}/warehouse",
                               f"-Dspark.graft.projectionDir={rundir}/projections",
                               "-cp", cp, "perfbench.Trace", plan_path, data, spans, out],
                       cwd=rundir, env=env, capture_output=True, text=True, timeout=170)
    if r.returncode != 0:
        raise RuntimeError(f"traced run failed: {r.stderr[-3000:]}")
    return json.load(open(out)), spans


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    started = time.perf_counter()
    # a terminated run still stops its server and client (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import build
    import workloads
    if a.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {a.workload} (known: {', '.join(workloads.WORKLOADS)})")
    cp, java = build.ensure()
    import fixtures
    fixture_dir, fixture_secs = fixtures.ensure(build.BUILD_ROOT, cp, java)
    log(f"fixture_build_s={fixture_secs:.1f} (not gated)" if fixture_secs is not None
        else "fixture_build_s=cached (not gated)")
    stamp = env_stamp(build.BUILD_ROOT)
    stamp["calibration_before_s"] = calibrate()
    phases = {"build_s": time.perf_counter() - started}
    t0 = time.perf_counter()
    plan = workloads.plan(a.workload, a.seed, a.seconds, fixture_dir, fixtures.key())
    phases["plan_s"] = time.perf_counter() - t0
    rundir = os.path.join(build.BUILD_ROOT, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        if a.trace == 0:
            setup, rss, recs = door_run(java, cp, fixture_dir, plan, rundir, phases)
            metrics, extra, counts = door_metrics(setup, rss, recs)
            failures = [f"{r['stmt']}: {r['error']}" for r in recs if r["error"]]
            attempted, failed = len(recs), len(failures)
            report = {**metrics, **extra}
            units = UNITS
        else:
            layers, spans = trace_run(java, cp, fixture_dir, plan, rundir, build.BUILD_ROOT)
            report = {k: v["value"] for k, v in layers["metrics"].items()}
            units = {k: v["unit"] for k, v in layers["metrics"].items()}
            counts = {k: len(layers["statements"]) for k in report}
            failures = layers["failures"]
            attempted, failed = layers["attempted"], layers["failed"]
            metrics = report
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    stamp["calibration_after_s"] = calibrate()
    log(f"env {json.dumps(stamp)}")
    phases["total_s"] = time.perf_counter() - started
    log("phases " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    log(f"workload={a.workload} seed={a.seed} door={plan['door']} trace={a.trace}")
    for k, v in report.items():
        log(f"  {k} = {v:.6g} {units[k]} (n={counts.get(k, 0)})")
    if a.trace == 1:
        log(f"  spans written to {os.path.relpath(spans, build.REPO)}")
        for s in layers["statements"]:
            lay = " ".join(f"{k}={v:.1f}" for k, v in s.get("layers", {}).items())
            log(f"  {s['id']}: door={s['door_ms']:.1f} untraced={s['untraced_ms']:.1f} "
                f"traced={s['traced_ms']:.1f} attributed={s.get('attributed', 0):.3f} {lay} "
                f"kernels={','.join(s['kernels']) or '-'}")
    if a.trace == 0:
        by_t = {}
        for r in recs:
            if r["kind"] in ("read", "insert") and not r["error"]:
                by_t.setdefault(r["stmt"].split("#")[0], []).append(r["ms"])
        log("  per statement template: median ms (n) " + " ".join(
            f"{t}={percentile(v, 0.5):.1f}({len(v)})" for t, v in sorted(by_t.items())))
    for f in failures[:20]:
        log(f"  FAILED {f}")
    if len(failures) > 20:
        by = {}
        for f in failures:
            by[f.split(":")[0].split("#")[0]] = by.get(f.split(":")[0].split("#")[0], 0) + 1
        log(f"  ... {len(failures) - 20} more failures; all failures by statement: {by}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics
                    if a.trace == 1 or k in END_TO_END},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
