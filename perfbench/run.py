#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source on first use (perfbench/build.py), turns the
seed into the workload's inputs (perfbench/workloads.py), runs it, checks
every answer against the pinned DuckDB digests (perfbench/digests.json) and
prints, as the last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The remaining figures (read/write
percentiles, error rate, host noise) go to stderr and to a run record under
`.bench_build/results/`; spans of traced runs go to `.bench_build/spans/`.
Exits non-zero on any failed operation or wrong answer.

Workloads: cypher_read, cypher_mixed (HTTP against graft.server.Main),
graph_batch, pipeline_batch (one caller, in-process). See NOTES.md.
"""
import argparse
import http.client
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import digests  # noqa: E402
import workloads as W  # noqa: E402

OUT = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.1"
CLIENTS = 4                      # closed-loop client threads (nproc = 4)
HEAP = "-Xmx3g"
WORKLOADS = ("cypher_read", "cypher_mixed", "batch", "graph_batch", "pipeline_batch")
E2E = [("setup_s", "s"), ("pass_p50_ms", "ms"), ("throughput_rps", "1/s")]
# every per-layer metric a traced run reports; a layer a workload does not
# call reports 0
PER_LAYER = (
    ["server.overhead_p50_ms", "cypher.parse_p50_ms", "exec.build_p50_ms", "exec.eager_jobs",
     "catalyst.analyze_p50_ms", "catalyst.optimize_p50_ms", "catalyst.physical_p50_ms",
     "spark.execute_p50_ms", "spark.jobs", "spark.stages", "spark.tasks",
     "spark.sched_delay_ms", "spark.task_cpu_share", "spark.gc_ms",
     "spark.shuffle_write_mb", "spark.spill_mb",
     "session.write_p50_ms", "session.write_jobs", "session.lost_writes",
     "session.cache_entries", "session.storage_mb",
     "graph.jobs_per_call", "graph.task_cpu_share", "graph.eager_p50_s"]
    + [f"graph.{c}_s" for c in W.GRAPH_CALLS]
    + ["pipeline.task_cpu_s", "pipeline.shuffle_write_mb", "pipeline.spill_mb"]
    + [f"pipeline.{c}_s" for c in W.PIPELINE_CALLS]
    + ["trace.traced_p50_ms"])
LAYER_UNITS = {"_ms": "ms", "_s": "s", "_mb": "MB", "_share": "fraction"}
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- host noise

def host_counters():
    """(steal jiffies, full IO-stall microseconds) — after Bench.stallCounters."""
    steal = io = 0
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        pass
    try:
        for line in Path("/proc/pressure/io").read_text().splitlines():
            if line.startswith("full"):
                io = int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return steal, io


def noise_record(before, after):
    try:
        load = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except (OSError, ValueError):
        load = []
    return {"steal_jiffies": after[0] - before[0], "io_full_stall_us": after[1] - before[1],
            "loadavg": load, "nproc": len(os.sched_getaffinity(0))}


# ---------------------------------------------------------------- statistics

def percentile(xs, q):
    """Nearest-rank percentile, or None when fewer than 10 samples lie
    beyond it (so p99 needs >= 1000 samples and p90 >= 100)."""
    n = len(xs)
    if n == 0 or n * (1 - q) < 10 - 1e-6:
        return None
    s = sorted(xs)
    return s[min(n - 1, max(0, int(-(-q * n // 1)) - 1))]


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------- processes

def jvm(run_dir: Path, cp: str, main: str, args, extra_props=(), env=None):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_OPENS + [
        HEAP, "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.ui.retainedExecutions=25",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
        f"-Dderby.system.home={tmp}"] + list(extra_props) + ["-cp", cp, main] + list(args))
    base = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    base.update(env or {})
    return subprocess.Popen(cmd, env=base, cwd=str(run_dir), stdout=subprocess.PIPE,
                            stderr=open(run_dir / "jvm.log", "ab"), text=True)


def stop(proc, grace=0, timeout=30):
    """Waits `grace` seconds for the process to exit, then sends SIGTERM
    (Spark's shutdown hooks stop the context), then kills it."""
    try:
        proc.wait(grace)
        return
    except subprocess.TimeoutExpired:
        pass
    proc.send_signal(signal.SIGTERM)
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def vm_hwm_mb(pid):
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    except OSError:
        pass
    return None


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def wait_line(proc, want, seconds):
    """Reads stdout until a line starting with `want` and returns it; kills
    the process if none arrives within `seconds`."""
    timer = threading.Timer(seconds, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith(want):
                return line.rstrip("\n")
        return None
    finally:
        timer.cancel()


# ---------------------------------------------------------------- server workloads

PROBE = {"query": "MATCH (c:Customer) WHERE c.c_custkey = 5 RETURN c.c_name AS n;"}


def post(conn, body):
    conn.request("POST", "/query", body, {"Content-Type": "application/json"})
    r = conn.getresponse()
    return r.status, r.read().decode("utf-8", "replace")


def launch_server(run_dir, cp, writes):
    """Starts graft.server.Main; returns (process, port, seconds from launch
    to the first successful response)."""
    port = free_port()
    props = ["-Dspark.graft.writes.enabled=true"] if writes else []
    t0 = time.monotonic()
    proc = jvm(run_dir, cp, "graft.server.Main", [], props,
               {"GRAFT_HOST": "127.0.0.1", "GRAFT_PORT": str(port),
                "GRAFT_DATA_DIR": str(DATA)})
    threading.Thread(target=proc.stdout.read, daemon=True).start()
    body = json.dumps(PROBE)
    while time.monotonic() - t0 < 120:
        if proc.poll() is not None:
            raise RuntimeError("server exited during start-up")
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            status, _ = post(conn, body)
            conn.close()
            if status == 200:
                return proc, port, time.monotonic() - t0
        except OSError:
            time.sleep(0.05)
    stop(proc)
    raise RuntimeError("server did not answer within 120 s")


def run_clients(port, reqs, start, seconds, block_len):
    """Closed loop: CLIENTS threads, each sending its next request when the
    previous one has completed. Issues requests from index `start` on and
    stops at the first block boundary after `seconds`."""
    lock = threading.Lock()
    state = {"next": start, "stop_at": None}
    results = []
    t0 = time.monotonic()

    def take():
        with lock:
            i = state["next"]
            if state["stop_at"] is None and time.monotonic() - t0 >= seconds:
                blocks = max(1, -(-(i - start) // block_len))
                state["stop_at"] = start + blocks * block_len
            if i >= len(reqs) or (state["stop_at"] is not None and i >= state["stop_at"]):
                return None
            state["next"] = i + 1
            return i

    def client():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        while True:
            i = take()
            if i is None:
                break
            r = reqs[i]
            body = json.dumps({"query": r["query"], "parameters": r["params"]})
            s = time.monotonic()
            try:
                status, text = post(conn, body)
            except (OSError, http.client.HTTPException) as e:
                status, text = 0, str(e)
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            results.append((i, status, (time.monotonic() - s) * 1000, text, time.monotonic()))
        conn.close()

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    end = max((x[4] for x in results), default=time.monotonic())
    return results, end - t0


def check_response(req, status, text, expected):
    """True when a response is a complete, correct answer."""
    if status != 200 or "__GRAFT_STREAM_ERROR__" in text:
        return False
    if req["kind"] == "write":
        return True
    want = expected["reads"].get(W.param_key(req["template"], req["params"]))
    if want is None:
        return False
    got = digests.response_digest(text.splitlines(), want["cols"])
    return got["digest"] == want["digest"]


def read_back_lost(port, acked):
    """Acknowledged order keys whose order and PLACED edge do not read back."""
    if not acked:
        return 0
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    status, text = post(conn, json.dumps({
        "query": "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.o_orderkey >= $lo "
                 "RETURN o.o_orderkey AS k;",
        "parameters": {"lo": min(acked)}}))
    conn.close()
    if status != 200:
        raise RuntimeError(f"read-back failed: {status} {text[:200]}")
    seen = {json.loads(l)["k"] for l in text.splitlines() if l.strip()}
    return len(set(acked) - seen)


def server_untraced(workload, seed, seconds, run_dir, cp, expected):
    writes = workload == "cypher_mixed"
    block_len = sum(W.BLOCK_WEIGHTS[workload].values())
    reqs = W.make_requests(workload, seed, blocks=400)
    proc, port, setup = launch_server(run_dir, cp, writes)
    try:
        warm, _ = run_clients(port, reqs, 0, 0, block_len)          # block 0: warm-up
        timed, window = run_clients(port, reqs, block_len, seconds, block_len)
        done = warm + timed
        ok = {i: check_response(reqs[i], st, text, expected) for i, st, _, text, _ in done}
        acked = [reqs[i]["params"]["k"] for i, st, _, _, _ in done
                 if reqs[i]["kind"] == "write" and ok[i]]
        lost = read_back_lost(port, acked)
        rss = vm_hwm_mb(proc.pid)
    finally:
        stop(proc)
    reads = [ms for i, _, ms, _, _ in timed if reqs[i]["kind"] == "read" and ok[i]]
    by_template = {}
    for i, _, ms, _, _ in timed:
        if reqs[i]["kind"] == "read" and ok[i]:
            by_template.setdefault(reqs[i]["template"], []).append(ms)
    template_p50 = {t: median(xs) for t, xs in sorted(by_template.items())}
    complete = len(template_p50) == len(W.READ_TEMPLATES)
    wr = [ms for i, _, ms, _, _ in timed if reqs[i]["kind"] == "write" and ok[i]]
    failed = sum(1 for i in ok if not ok[i]) + lost
    bad = sorted({reqs[i]["template"] for i in ok if not ok[i]})
    good = sum(1 for i, *_ in timed if ok[i])
    # closed-loop throughput by Little's law: CLIENTS requests are always in
    # flight, so the rate is CLIENTS over the mean response time; unlike
    # completions over wall time it leaves out the drain of the last block
    busy_s = sum(ms for _, _, ms, _, _ in timed) / 1000 / CLIENTS
    metrics = {"setup_s": setup,
               "pass_p50_ms": sum(template_p50.values()) if complete else None,
               "throughput_rps": good / busy_s if busy_s > 0 else None}
    extra = {"peak_rss_mb": rss, "read_samples": len(reads), "template_p50_ms": template_p50,
             "read_p50_ms": median(reads), "read_p90_ms": percentile(reads, 0.90),
             "read_p99_ms": percentile(reads, 0.99), "write_samples": len(wr),
             "write_p50_ms": median(wr), "write_p90_ms": percentile(wr, 0.90),
             "window_s": window, "completions_per_s": good / window if window > 0 else None,
             "blocks": len(timed) // block_len,
             "acked_writes": len(acked), "lost_writes": lost,
             "lost_write_share": lost / len(acked) if acked else 0.0,
             "failed_templates": bad, "error_rate": failed / max(1, len(done))}
    return metrics, len(done), failed, extra


def server_traced(workload, seed, seconds, run_dir, cp, expected):
    writes = workload == "cypher_mixed"
    reqs = W.make_requests(workload, seed, blocks=400)
    req_file = run_dir / "requests.jsonl"
    req_file.write_text("".join(json.dumps(r) + "\n" for r in reqs))
    out = run_dir / "out"
    out.mkdir(exist_ok=True)
    props = ["-Dspark.graft.writes.enabled=true"] if writes else []
    proc = jvm(run_dir, cp, "perfbench.CypherTrace",
               ["--data", str(DATA), "--requests", str(req_file),
                "--warmup", str(sum(W.BLOCK_WEIGHTS[workload].values())),
                "--seconds", str(seconds), "--clients", str(CLIENTS), "--out", str(out)], props)
    try:
        line = wait_line(proc, "RESULT ", 160)
    finally:
        stop(proc, grace=30)
    if line is None:
        raise RuntimeError("traced run produced no result")
    res = json.loads(line[len("RESULT "):])
    by_id = {r["id"]: r for r in reqs}
    attempted = failed = 0
    for l in (out / "responses.jsonl").read_text().splitlines():
        if not l.strip():
            continue
        resp = json.loads(l)
        r = by_id[resp["id"]]
        attempted += 1
        text = "\n".join(resp["rows"])
        if not (resp["ok"] and check_response(r, 200, text, expected)):
            failed += 1
    failed += int(res["lost_writes"])
    layers = dict(res["layers"])

    def template_p50(phase):
        xs = {}
        for x in res["samples"]:
            if x["phase"] == phase and x["kind"] == "read" and x["ok"]:
                xs.setdefault(x["template"], []).append(x["ms"])
        return {t: median(v) for t, v in xs.items()}
    inproc, over_http = template_p50("inproc"), template_p50("http")
    # the untraced run's pass_p50_ms, on the traced in-process path
    layers["trace.traced_p50_ms"] = sum(inproc.values())
    keep_spans(workload, seed, out / "spans.jsonl")
    return layers, attempted, failed, {
        "window_s": res["window_s"], "acked_writes": res["acked_writes"],
        "lost_writes": res["lost_writes"], "template_p50_ms": inproc,
        "http_template_p50_ms": over_http,
        "http_pass_overhead_ms": sum(over_http[t] - inproc[t] for t in inproc if t in over_http)}


# ---------------------------------------------------------------- batch workloads

def batch_run(workload, seed, seconds, trace, run_dir, cp, expected):
    calls = W.BATCH_CALLS[workload]
    orders = run_dir / "orders.txt"
    orders.write_text("".join(",".join(o) + "\n" for o in W.make_pass_orders(calls, seed, 64)))
    out = run_dir / "out"
    out.mkdir(exist_ok=True)
    t0 = time.monotonic()
    p = jvm(run_dir, cp, "perfbench.Batch", [
        "--data", str(DATA), "--orders", str(orders),
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", str(out)])
    try:
        if wait_line(p, "READY", 120) is None:
            raise RuntimeError("batch harness did not start")
        setup = time.monotonic() - t0
        line = wait_line(p, "RESULT ", 150)
    finally:
        stop(p, grace=30)
    if line is None:
        raise RuntimeError("batch harness produced no result")
    res = json.loads(line[len("RESULT "):])
    passes = res["passes"]
    n_calls = int(res["calls_per_pass"]) * len(passes)
    bad = digests.check_parquet_outputs(out, calls, {**expected["graph"], **expected["pipeline"]})
    failed = len(res["errors"]) + len(res["unstable"]) + len(bad)
    for e in res["errors"]:
        log(f"call failed: {e}")
    if res["unstable"] or bad:
        log(f"unstable across passes: {res['unstable']}; digest mismatch: {bad}")
    pass_s = [x["s"] for x in passes]
    ok_calls = sum(x["ok"] for x in passes)
    extra = {"peak_rss_mb": res["rss_mb"], "passes": len(passes), "pass_s": pass_s,
             "batch_s": median(pass_s),
             "calls": res["calls"], "error_rate": failed / max(1, n_calls)}
    if trace:
        layers = dict(res["layers"])
        layers["trace.traced_p50_ms"] = median(pass_s) * 1000
        keep_spans(workload, seed, out / "spans.jsonl")
        return layers, n_calls, failed, extra
    metrics = {"setup_s": setup, "pass_p50_ms": median(pass_s) * 1000,
               "throughput_rps": ok_calls / sum(pass_s)}
    return metrics, n_calls, failed, extra


def keep_spans(workload, seed, path):
    dst = OUT / "spans"
    dst.mkdir(parents=True, exist_ok=True)
    if path.exists():
        shutil.copyfile(path, dst / f"{workload}-seed{seed}.jsonl")


# ---------------------------------------------------------------- main

def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not DATA.is_dir() or not digests.DIGESTS.exists():
        sys.exit("perfbench: benchmark data or digests missing")
    cp = build.build()
    expected = digests.load()
    run_dir = OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    before = host_counters()
    try:
        if a.workload.startswith("cypher_"):
            fn = server_traced if a.trace else server_untraced
            metrics, attempted, failed, extra = fn(a.workload, a.seed, a.seconds, run_dir, cp,
                                                   expected)
        else:
            metrics, attempted, failed, extra = batch_run(a.workload, a.seed, a.seconds,
                                                          bool(a.trace), run_dir, cp, expected)
    finally:
        noise = noise_record(before, host_counters())
        if (run_dir / "jvm.log").exists():
            shutil.copyfile(run_dir / "jvm.log", OUT / "last-jvm.log")
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        out = {k: {"value": float(metrics.get(k) or 0.0), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        missing = [k for k, _ in E2E if metrics.get(k) is None]
        if missing:
            log(f"no value for {missing}")
            failed = max(failed, 1)
        out = {k: {"value": float(metrics.get(k) or 0.0), "unit": u} for k, u in E2E}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "metrics": out, "attempted": attempted, "failed": failed, "details": extra,
              "host_noise": noise}
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1))
    log(json.dumps({"details": extra, "host_noise": noise}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so every started JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
