"""spark-graft benchmark: the sync and corpus_ops workloads.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --regen-digests

Run from the repository root. Each workload runs in a fresh worker
process (worker.py) on ``local[nproc]``, in a temporary directory under
``.perfbench_run/`` that is removed afterwards. Inputs are generated
from a fixed generator seed (datagen.py); ``--seed`` picks the
incremental cutoff dates. Each workload is a closed loop with one
client: a cold pass, then warm passes back to back for ``--seconds``.

With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a traced run (spans around the package's module functions, Spark's
status tracker and event log). Every output is checked against
expected.json after the worker exits; ``--regen-digests`` recomputes
that file from DuckDB.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import digests  # noqa: E402
import mock_es  # noqa: E402
import proctree  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

RUN_DIR = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKER_TIMEOUT_S = 150
# The Spark driver heap, sized to the inputs (a fifth of sf0.1) instead of the
# package's 8g default. G1 grows the heap by timing-dependent heuristics
# up to the cap, so a cap the workloads do not reach gives a bimodal peak
# RSS: the three parquet jobs alone peaked at 1.6-3.2 GB between runs
# with 8g and at 1.3-2.6 GB with 2g, and at 1.2-1.3 GB with 1g.
DRIVER_MEM = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# host and process-tree observation
# --------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_info(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    steal = d[7] if len(d) > 7 else 0
    return {"nproc": nproc(), "loadavg": load, "steal_share": steal / max(sum(d), 1)}


class RssSampler(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.is_set():
            self.peak = max(self.peak, proctree.pss_bytes(self.pid))
            self.stop_event.wait(self.interval)

    def stop(self) -> int:
        self.stop_event.set()
        self.join()
        return self.peak


class WorkerFailed(RuntimeError):
    pass


def become_subreaper() -> None:
    """Make orphaned descendants reparent to this process instead of to
    init, so stop_descendants finds and reaps them. PySpark's Python
    daemon moves itself into its own process group, and the JVM's
    children outlive a killed JVM; neither would be found otherwise."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(keep: tuple[int, ...] = (), timeout: float = 30) -> None:
    """SIGKILL every process below this one except ``keep`` and reap it,
    until none is left (zombies included)."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in proctree.tree(me) if p != me and p not in keep]
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not left:
            return
        if time.monotonic() > deadline:
            raise WorkerFailed(f"processes {left} did not end")
        time.sleep(0.05)


# --------------------------------------------------------------------------
# one workload
# --------------------------------------------------------------------------


def worker_env(tmp: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["TZ"] = "UTC"
    # Temporary files of the Python processes and of the JVM (Spark's
    # artifact directories, native library extraction) stay in the run
    # directory too.
    env["TMPDIR"] = os.path.join(tmp, "tmp")
    jvm_tmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.makedirs(jvm_tmp, exist_ok=True)
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={jvm_tmp}"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(tmp, 'eventlog')}",
            "spark.eventLog.compress=false",
        ]
    args = [a for c in confs for a in ("--conf", shlex.quote(c))]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return env


def run_worker(args: list[str], tmp: str, env: dict, keep: tuple[int, ...]) -> int:
    """Run worker.py in its own session; returns the peak RSS bytes of
    its process tree. When it ends, every process below this one except
    ``keep`` is stopped: the worker's JVM, Python daemon and workers."""
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=tmp,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            peak = sampler.stop()
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            stop_descendants(keep)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise WorkerFailed(f"worker exited with {code}:\n{tail}")
    return peak


def start_mock_es(tmp: str) -> tuple[subprocess.Popen, str]:
    """Start mock_es.py in a fresh interpreter, outside the worker's
    process tree; returns the process and its URL."""
    proc = subprocess.Popen(
        [sys.executable, mock_es.__file__, str(nproc())],
        cwd=tmp,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    port = proc.stdout.readline().strip()
    if not port.isdigit():
        stop_mock_es(proc)
        raise WorkerFailed("mock ES did not start")
    return proc, f"http://127.0.0.1:{port.decode()}"


def stop_mock_es(proc: subprocess.Popen) -> None:
    """Close its stdin (it serves until EOF) and wait for it to end."""
    proc.stdin.close()
    try:
        proc.wait(10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload in a fresh worker; returns raw observations."""
    cpu0 = cpu_times()
    tmp = os.path.join(RUN_DIR, f"{workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "eventlog"))
    mock = None
    t0 = time.perf_counter()
    try:
        data_dir = os.path.join(tmp, "data")
        tables = datagen.tables()
        expected = digests.load_expected()
        if digests.data_fingerprint(tables) != expected["data_sha256"]:
            raise WorkerFailed("generated inputs differ from expected.json: run --regen-digests")
        datagen.write_tables(data_dir, tables)
        env = worker_env(tmp, trace)
        cfg = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "data_dir": data_dir,
            "sink_root": os.path.join(tmp, "sinks"),
            "eventlog_dir": os.path.join(tmp, "eventlog"),
        }
        if workload == "sync":
            mock, cfg["es_url"] = start_mock_es(tmp)
        cfg_path, out_path = os.path.join(tmp, "cfg.json"), os.path.join(tmp, "result.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        t1 = time.perf_counter()
        peak = run_worker([cfg_path, out_path], tmp, env, (mock.pid,) if mock is not None else ())
        t2 = time.perf_counter()
        with open(out_path) as f:
            obs = json.load(f)
        obs.update(peak_rss=peak, cfg=cfg)
        obs["verdicts"] = verify(workload, seed, obs, expected)
        obs["phases"] = {"inputs": t1 - t0, "worker": t2 - t1, "verify": time.perf_counter() - t2}
        obs["host"] = host_info(cpu0, cpu_times())
        return obs
    finally:
        if mock is not None:
            stop_mock_es(mock)
        stop_descendants()
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------


def verify(workload: str, seed: int, obs: dict, expected: dict) -> list[dict]:
    """One verdict per pass: jobs/ops attempted, failed, and why."""
    cut = workloads.cutoffs(seed)
    con = digests.duck_connect(obs["cfg"]["data_dir"]) if workload == "sync" else None
    out = []
    for p in obs["passes"]:
        errors = [p["error"]] if "error" in p else []
        failed = p.get("failed", 0)
        if not errors and workload == "sync":
            want = expected["es_index"][cut["orders"]]
            got = (p["es_index"]["docs"], p["es_index"]["digest"])
            reported = (p["rows"].get("orders_full"), p["rows"].get("orders_incr"))
            if got != (want["rows"], want["digest"]) or reported != (want["rows"], want["incr_rows"]):
                errors.append(f"orders index {got}, reported rows {reported} != expected {want}")
                failed += len(workloads.ES_JOBS)
            exp = expected["parquet"]
            for job in workloads.PARQUET_JOBS:
                want = exp[job][cut["lineitem"]] if job == "lineitem_incr" else exp[job]
                got = digests.parquet_digest(con, os.path.join(p["sink_root"], job))
                if got != want or p["rows"].get(job) != want["rows"]:
                    errors.append(f"{job}: sink {got}, reported {p['rows'].get(job)} != {want}")
                    failed += 1
        elif workload == "corpus_ops":
            for key, op in p["ops"].items():
                if "error" in op:
                    errors.append(f"{key}: {op['error']}")
                    continue
                want = expected["corpus_ops"][key]
                if (op["rows"], op["digest"]) != (want["rows"], want["digest"]):
                    errors.append(f"{key}: {op['rows']} rows {op['digest'][:12]} != {want['rows']} rows {want['digest'][:12]}")
                    failed += 1
        out.append({"label": p["label"], "attempted": p["attempted"], "failed": failed, "errors": errors})
    return out


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def _ok(obs: dict) -> list[dict]:
    """Passes that completed and verified."""
    good = {v["label"] for v in obs["verdicts"] if v["failed"] == 0}
    return [p for p in obs["passes"] if p["label"] in good and "wall_s" in p]


def e2e_metrics(obs: dict) -> dict:
    warm = [p for p in _ok(obs) if p["label"] != "p0" and not p["traced"]]
    m = {"setup_s": (obs["setup_s"], "s")}
    if warm:
        m["pass_s"] = (statistics.median(p["wall_s"] for p in warm), "s")
        m["rows_per_s"] = (
            statistics.median(sum(p["rows"].values()) / p["wall_s"] for p in warm),
            "rows/s",
        )
    m["peak_rss_mb"] = (obs["peak_rss"] / 2**20, "MB")
    return m


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(workload: str, obs: dict) -> dict:
    """Per-layer metrics of a traced run: medians over its traced warm
    passes (self seconds per pass for spans)."""
    spans = obs["spans"]
    passes = _ok(obs)
    traced = [p for p in passes if p["traced"] and p["label"] != "p0"]
    untraced = [p for p in passes if not p["traced"] and p["label"] != "p0"]
    labels = [p["label"] for p in traced]
    nproc_ = obs["host"]["nproc"]
    m: dict[str, tuple] = {}

    setup = tracing.sum_by(spans, "setup", lambda s: s["name"])
    m["session.get_spark_s"] = (setup.get("session.get_spark", 0.0), "s")
    # One sample per process, so it moves with the host more than any
    # warm-pass median: reported here, without a bound (README "Noise").
    m["cold_pass_s"] = (_median(p["wall_s"] for p in passes if p["label"] == "p0"), "s")

    by_name = [tracing.sum_by(spans, lbl, lambda s: s["name"]) for lbl in labels]
    by_job = [
        tracing.sum_by(spans, lbl, lambda s: f"{s['name']}.{s['tag']}" if s["tag"] else None)
        for lbl in labels
    ]

    def span_s(name):
        return (_median(d.get(name, 0.0) for d in by_name), "s")

    m["io.load_tables_s"] = span_s("io.load_tables")
    m["io.read_table_s"] = span_s("io.read_table")
    for stage in ("build_source", "apply_transforms", "write_sink"):
        m[f"pipeline.{stage}_s"] = span_s(f"pipeline.{stage}")
    m["pipeline.count_pass_s"] = (_median(p.get("count_pass_s", 0.0) for p in traced), "s")
    for job in workloads.ES_JOBS + workloads.PARQUET_JOBS:
        for stage in ("build_source", "apply_transforms", "write_sink"):
            val = _median(d.get(f"pipeline.{stage}.{job}", 0.0) for d in by_job)
            m[f"pipeline.{job}.{stage}_s"] = (val, "s")

    m["es_http.bulk_index_s"] = span_s("es_http.bulk_index")
    es_units = {
        "bulk_requests": "count",
        "docs": "count",
        "bulk_bytes": "B",
        "max_inflight": "count",
        "retried_requests": "count",
        "server_busy_s": "s",
    }
    for key, unit in es_units.items():
        m[f"es_http.{key}"] = (_median(p.get("es", {}).get(key, 0) for p in traced), unit)

    files = _median(p.get("parquet_files", 0) for p in traced)
    size = _median(p.get("parquet_bytes", 0) for p in traced)
    m["sink.parquet_files"] = (files, "count")
    m["sink.parquet_bytes"] = (size, "B")
    # Bytes every sink received (bulk NDJSON plus parquet on disk) per row
    # the pass wrote; 0 on corpus_ops, which writes no sink.
    per_row = _median(
        (p.get("es", {}).get("bulk_bytes", 0) + p.get("parquet_bytes", 0)) / max(sum(p["rows"].values()), 1)
        for p in traced
        if "ops" not in p
    )
    m["sink.bytes_per_row"] = (per_row, "B/row")

    def pass_events(lbl):
        acc = dict.fromkeys(tracing.EVENTLOG_FIELDS, 0.0)
        for group, vals in obs["eventlog"].items():
            if group == lbl or group.startswith(lbl + "/"):
                for k in acc:
                    acc[k] += vals[k]
        return acc

    events = [pass_events(lbl) for lbl in labels]
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (_median(p["tracker"][key] for p in traced), "count")
    for key in tracing.EVENTLOG_FIELDS:
        unit = {"_s": "s", "ds": "count"}.get(key[-2:], "B")
        m[f"spark.{key}"] = (_median(e[key] for e in events), unit)
    m["spark.core_busy_share"] = (
        _median(e["executor_run_s"] / (p["wall_s"] * nproc_) for e, p in zip(events, traced)),
        "ratio",
    )

    for key in workloads.OPS:
        ops = [p["ops"][key] for p in traced if "ops" in p]
        m[f"operators.{key}.build_s"] = (_median(o["build_s"] for o in ops), "s")
        m[f"operators.{key}.action_s"] = (_median(o["action_s"] for o in ops), "s")
        m[f"operators.{key}.stages"] = (_median(o["tracker"]["stages"] for o in ops), "count")
        m[f"operators.{key}.input_bytes"] = (
            _median(
                sum(obs["eventlog"].get(f"{p['label']}/{key}/{ph}", {}).get("input_bytes", 0) for ph in ("build", "action"))
                for p in traced
                if "ops" in p
            ),
            "B",
        )
    m["process.cpu_s"] = (_median(p["cpu_s"] for p in traced), "s")
    m["lifecycle.release_s"] = (_median(p.get("release_s", 0.0) for p in traced), "s")
    m["trace.overhead_s"] = (
        _median(p["wall_s"] for p in traced) - _median(p["wall_s"] for p in untraced),
        "s",
    )
    return m


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------


def report(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload and print its summary lines; returns the
    result object (correct/attempted/failed/metrics)."""
    obs = run_workload(workload, seed, seconds, trace)
    attempted = sum(v["attempted"] for v in obs["verdicts"])
    failed = sum(v["failed"] for v in obs["verdicts"])
    metrics = layer_metrics(workload, obs) if trace else e2e_metrics(obs)
    warm = [p for p in obs["passes"] if p["label"] != "p0"]
    host = obs["host"]
    print(
        f"# {workload} seed={seed} trace={int(trace)}: {len(warm)} warm passes, "
        f"{attempted} attempted, {failed} failed; nproc={host['nproc']} "
        f"loadavg={host['loadavg']} steal_share={host['steal_share']:.4f}"
    )
    print("#   run phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in obs["phases"].items())
          + f"; in the worker: setup {obs['setup_s']:.2f}, cold pass {obs['passes'][0].get('wall_s', float('nan')):.2f}")
    print("#   warm passes (wall s, cpu s): " + ", ".join(
        f"{p['label']}{'*' if p['traced'] else ''}={p.get('wall_s', float('nan')):.3f}/{p.get('cpu_s', float('nan')):.2f}"
        for p in warm))
    for v in obs["verdicts"]:
        for e in v["errors"]:
            print(f"#   FAILED {v['label']}: {e}")
    for name, (value, unit) in metrics.items():
        print(f"#   {name} = {value:.6g} {unit}")
    if trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"spans-{workload}-seed{seed}.json"), "w") as f:
            json.dump(obs["spans"], f)
    ok = failed == 0 and bool(warm) and all(p.get("wall_s") for p in warm)
    return {
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def regen_digests() -> int:
    sys.path.insert(0, ROOT)
    tmp = os.path.join(RUN_DIR, f"regen-{os.getpid()}")
    try:
        datagen.write_tables(tmp, datagen.tables())
        out = digests.regenerate(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({k: v for k, v in out.items() if k != "es_index"}, indent=1)[:2000])
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*workloads.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-digests", action="store_true")
    args = ap.parse_args(argv)
    # A terminated run still stops its worker tree and mock ES (the
    # finally blocks in run_worker, run_workload and here).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    try:
        return _main(args, ap)
    finally:
        stop_descendants()


def _main(args, ap) -> int:
    if not os.path.isdir(os.path.join(ROOT, "hive_to_es_spark")):
        print(f"no hive_to_es_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.regen_digests:
        return regen_digests()
    if args.workload is None:
        ap.error("--workload is required")
    names = workloads.WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    try:
        for name in names:
            results[name] = report(name, args.seed, args.seconds, bool(args.trace))
    except WorkerFailed as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
