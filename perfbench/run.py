"""Closed-loop benchmark of the engine: one client, one workload, one run.

    python3 perfbench/run.py --workload store_serve --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it
is ``{"meta": ...}`` with the host context (master, parallelism, load
average, seed).  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced phase (Spark event log plus a
job group per operation).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import eventlog  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402
from model import Mismatch  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

STORE_OPS = ("search1", "search16", "search_by_doc", "select_ids",
             "query_by_doc", "insert", "delete", "upsert", "compact",
             "search_after_write")
MODULE_OPS = {
    "knn": ("knn_batch32_k10",),
    "fuzzysearch": ("fuzzy_topk",),
    "dedup": ("dedup_minhash_lsh", "cosine_topk_pairs", "cosine_neardup_lsh"),
    "relational": ("q1_pricing_summary", "q3_shipping_priority",
                   "q5_local_supplier_volume", "window_top_orders",
                   "events_windowed_agg"),
    "textstats": ("token_stats",),
    "jsonfn": ("query_by_doc",),
}
PIPELINE_STEPS = ("batch", "exact", "neardup", "substring", "quality", "lang",
                  "semantic", "decide_marker", "write_back")


def per_layer_units() -> dict[str, str]:
    """Per-layer metrics of a traced run, with their units.  Every traced
    run prints all of them; a layer the workload never reaches reads 0."""
    u = {
        "session.jobs_per_op": "count", "session.stages_per_op": "count",
        "session.tasks_per_op": "count", "session.driver_s_per_op": "s",
        "session.task_run_s_per_op": "s", "session.jvm_cpu_s_per_op": "s",
        "session.gc_s_per_op": "s", "session.slot_util": "ratio",
        "session.pyworker_cpu_s_per_op": "s",
        "session.driver_cpu_s_per_op": "s",
        "session.shuffle_write_mb_per_op": "MB",
        "session.spill_mb_per_op": "MB", "session.input_mb_per_op": "MB",
    }
    for op in STORE_OPS:
        u[f"store.{op}_ms"] = "ms"
        u[f"store.{op}_jobs"] = "count"
    u.update({"store.write_amp": "ratio", "store.files_per_snapshot": "count",
              "store.snapshots_retained": "count", "store.space_amp": "ratio"})
    for mod, ops in MODULE_OPS.items():
        for op in ops:
            u[f"{mod}.{op}_ms"] = "ms"
    for step in PIPELINE_STEPS:
        u[f"pipeline.step.{step}_ms"] = "ms"
    u.update({"pipeline.state_bytes_written_per_shard": "bytes",
              "pipeline.state_files": "count", "pipeline.space_amp": "ratio"})
    for mod in eventlog.CALLSITE_MODULES:
        u[f"callsite.{mod}.job_s_per_op"] = "s"
    u.update({"client.read_p50_ms": "ms", "client.write_p50_ms": "ms",
              "client.peak_rss_mb": "MB", "trace.ops_per_s_ratio": "ratio"})
    return u


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def p90(xs: list[float]) -> float | None:
    """The 90th percentile (nearest rank), or ``None`` unless at least 10
    samples lie above it."""
    s = sorted(xs)
    rank = math.ceil(0.9 * len(s))
    if len(s) - rank < 10:
        return None
    return s[rank - 1]


class Client:
    """One closed-loop client: the next operation starts when the previous
    one and its correctness check are done.  Checks are timed apart and
    excluded from latency, throughput and CPU: ``check_cpu`` holds their
    CPU seconds per process class over the whole tree, since a check may
    run Spark jobs of its own."""

    def __init__(self, spark, label: str, tracing: bool):
        self.sc, self.label = spark.sparkContext, label
        self.tracing = tracing
        self.spans: list[dict] = []
        self.attempted = self.failed = 0
        self.busy = self.check_s = 0.0
        self.check_cpu = dict.fromkeys(procstat.CLASSES, 0.0)
        self.mismatch: str | None = None
        self.after_op = None

    def _group(self, name: str) -> None:
        if self.tracing:
            self.sc.setJobGroup(name, name)

    def run(self, ops, seconds: float) -> "Client":
        for op in ops:
            if self.mismatch or (self.busy >= seconds and op.starts_round):
                break
            self.attempted += 1
            group = f"{self.label}:{op.kind}:{self.attempted}"
            self._group(group)
            t0 = time.time()
            try:
                res = op.run()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                self.busy += time.time() - t0
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
                continue
            t1 = time.time()
            self.busy += t1 - t0
            self.spans.append({"group": group, "kind": op.kind, "role": op.role,
                               "t0": t0, "t1": t1, "user_bytes": op.user_bytes})
            self._group("check")
            c0, w0 = procstat.sample(), time.time()
            try:
                op.check(res)
            except Mismatch as e:
                self.mismatch = str(e)
            if self.after_op is not None:
                self.after_op()
            for k, v in procstat.cpu_delta(c0, procstat.sample()).items():
                self.check_cpu[k] += v
            self.check_s += time.time() - w0
        self._group("idle")
        return self

    def latencies(self, kind: str | None = None, role: str | None = None):
        return [s["t1"] - s["t0"] for s in self.spans
                if kind in (None, s["kind"]) and role in (None, s["role"])]

    def ops_per_s(self) -> float:
        return len(self.spans) / self.busy if self.busy else 0.0


class WrongMaster(RuntimeError):
    """The session is not ``local[nproc]``; the run refuses to measure."""


def start_spark(work: str, event_log: str | None = None):
    from vector_db_at_home_spark.session import get_spark

    n = nproc()
    conf = {"spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"}
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + event_log})
    spark = get_spark("perfbench", master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.master != f"local[{n}]":
        master = spark.sparkContext.master
        stop_all(spark)
        raise WrongMaster(f"master is {master}, not local[{n}]")
    return spark


def stop_all(spark) -> None:
    """Stop Spark and the JVM, and wait for every process this run started."""
    from pyspark import SparkContext

    pids = [p for p in procstat.tree() if p != os.getpid()]
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def measure(wl, spark, label: str, seconds: float, tracing: bool, after_op=None):
    """Warm up, then run the timed phase; returns the warm-up client, the
    timed client, the time the timed phase started, the CPU seconds by
    process class of the program over the timed phase (without those of
    the checks), and the process-tree sample taken at its end."""
    warm = Client(spark, f"warmup-{label}", tracing).run(wl.warmup(), math.inf)
    timed = Client(spark, label, tracing)
    timed.after_op = after_op
    before = procstat.sample()
    start = time.time()
    timed.run(wl.ops(), seconds)
    after = procstat.sample()
    cpu = {k: v - timed.check_cpu[k]
           for k, v in procstat.cpu_delta(before, after).items()}
    return warm, timed, start, cpu, after


E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_gmean_ms": "ms",
             "cpu_s_per_op": "s"}


def end_to_end(setup_s: float, timed: Client, cpu: dict) -> dict:
    return {
        "setup_s": setup_s,
        "ops_per_s": timed.ops_per_s(),
        "op_gmean_ms": 1e3 * gmean(timed.latencies()),
        "cpu_s_per_op": sum(cpu.values()) / max(len(timed.spans), 1),
    }


def layers(wl, untraced: Client, untraced_rss: float, traced: Client,
           cpu: dict, parsed: dict, space: dict, space_samples: list[dict],
           cores: int) -> dict:
    m = dict.fromkeys(per_layer_units(), 0.0)
    t = eventlog.op_layers(parsed, traced.spans)
    n = max(t["ops"], 1)
    m.update({
        "session.jobs_per_op": t["jobs"] / n,
        "session.stages_per_op": t["stages"] / n,
        "session.tasks_per_op": t["tasks"] / n,
        "session.driver_s_per_op": t["driver_ms"] / 1e3 / n,
        "session.task_run_s_per_op": t["run_ms"] / 1e3 / n,
        "session.jvm_cpu_s_per_op": t["cpu_ns"] / 1e9 / n,
        "session.gc_s_per_op": t["gc_ms"] / 1e3 / n,
        "session.slot_util": t["run_ms"] / max(t["wall_ms"] * cores, 1e-9),
        "session.pyworker_cpu_s_per_op": cpu["pyworker"] / n,
        "session.driver_cpu_s_per_op": cpu["driver"] / n,
        "session.shuffle_write_mb_per_op": t["shuffle_write_b"] / 2**20 / n,
        "session.spill_mb_per_op": t["spill_b"] / 2**20 / n,
        "session.input_mb_per_op": t["input_b"] / 2**20 / n,
        "client.read_p50_ms": 1e3 * p50(untraced.latencies(role="read")),
        "client.write_p50_ms": 1e3 * p50(untraced.latencies(role="write")),
        "client.peak_rss_mb": untraced_rss,
        "trace.ops_per_s_ratio": (traced.ops_per_s() / untraced.ops_per_s()
                                  if untraced.ops_per_s() else 0.0),
    })
    jobs_by_group = {o["group"]: o for o in t["per_op"]}
    kinds = {s["kind"] for s in traced.spans}
    prefix = {op: mod for mod, ops in MODULE_OPS.items() for op in ops}
    for kind in kinds:
        ms = 1e3 * p50(traced.latencies(kind))
        if kind in STORE_OPS and wl.name.startswith("store"):
            groups = [s["group"] for s in traced.spans if s["kind"] == kind]
            m[f"store.{kind}_ms"] = ms
            m[f"store.{kind}_jobs"] = (sum(jobs_by_group[g]["jobs"] for g in groups)
                                       / len(groups))
        elif kind in prefix:
            m[f"{prefix[kind]}.{kind}_ms"] = ms
    m.update(space)
    writes = [s for s in traced.spans if s["role"] == "write"]
    written = sum(jobs_by_group[s["group"]]["output_b"] for s in writes)
    if wl.name.startswith("store") and writes:
        m["store.write_amp"] = written / max(sum(s["user_bytes"] for s in writes), 1)
        for key in ("store.files_per_snapshot", "store.snapshots_retained"):
            m[key] = statistics.fmean(s[key] for s in space_samples)
    shards = [s for s in writes if s["kind"] == "admit_shard"]
    if shards:
        m["pipeline.state_bytes_written_per_shard"] = (
            sum(jobs_by_group[s["group"]]["output_b"] for s in shards)
            / len(shards))
        walls = [{(k.split("_", 1)[1] if k[0].isdigit() else k): v
                  for k, v in st["stage_walls"].items()}
                 for st in wl.admit.stats[-len(shards):] if "stage_walls" in st]
        for step in PIPELINE_STEPS:
            key = f"pipeline.step.{step}_ms"
            if walls:
                m[key] = 1e3 * p50([w[step] for w in walls if step in w])
            else:               # the stats= channel went away: missing
                m.pop(key)
    sites = eventlog.callsite_layers(parsed, {s["group"] for s in traced.spans})
    for mod in eventlog.CALLSITE_MODULES:
        m[f"callsite.{mod}.job_s_per_op"] = sites[mod] / n
    return m


def _wrong(check) -> str | None:
    """Run a check; return the wrong answer it found, if any."""
    try:
        check()
    except Mismatch as e:
        return str(e)
    return None


def run(args, work: str) -> tuple[dict, dict]:
    cores = nproc()
    meta = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cores,
            "loadavg_before": os.getloadavg()}
    spark = start_spark(work)
    try:
        meta.update(master=spark.sparkContext.master,
                    default_parallelism=spark.sparkContext.defaultParallelism,
                    spark_version=spark.version)
        session_s = time.time() - T_START
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.time()
        wl.build()
        build_s = time.time() - t0
        errors = [_wrong(wl.after_setup)]
        setup_check_s = time.time() - t0 - build_s
        warm, timed, start, cpu, tree = measure(wl, spark, "run", args.seconds,
                                                False)
        # process start to the first timed op, without the benchmark's own
        # correctness checks
        setup_s = start - T_START - setup_check_s - warm.check_s
        meta.update(session_s=session_s, build_s=build_s, warmup_s=warm.busy,
                    setup_check_s=setup_check_s + warm.check_s,
                    rss_mb=tree["rss_mb"], workers=tree["workers"])
        e2e = end_to_end(setup_s, timed, cpu)
        clients = [warm, timed]
        for role in ("read", "write"):
            lat = timed.latencies(role=role)
            meta[f"{role}_ops"] = len(lat)
            meta[f"{role}_p50_ms"] = 1e3 * p50(lat) if lat else None
            tail = p90(lat)
            meta[f"{role}_p90_ms"] = None if tail is None else 1e3 * tail
        meta["op_p50_ms"] = 1e3 * p50(timed.latencies())
        meta["untraced"] = e2e
        if args.trace:
            log = os.path.join(work, "eventlog")
            spark.stop()
            spark = start_spark(work, log)
            wl.rebind(spark)
            space_samples: list[dict] = []
            _, traced, _, tcpu, _ = measure(
                wl, spark, "traced", args.seconds, True,
                after_op=lambda: space_samples.append(wl.space()))
            clients.append(traced)
            spark.sparkContext.setJobGroup("check", "check")
            errors.append(_wrong(wl.final_check))
            space = wl.space()
            spark.stop()
            parsed = eventlog.parse(eventlog.read_events(log))
            lm = layers(wl, timed, tree["peak_rss_mb"], traced, tcpu, parsed,
                        space, space_samples, cores)
            units = per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in lm.items()}
        else:
            t0 = time.time()
            errors.append(_wrong(wl.final_check))
            meta["final_check_s"] = time.time() - t0
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        mismatch = next((e for e in [c.mismatch for c in clients] + errors
                         if e), None)
        meta.update(mismatch=mismatch, loadavg_after=os.getloadavg(),
                    check_s=sum(c.check_s for c in clients),
                    per_kind_p50_ms={k: 1e3 * p50(timed.latencies(k))
                                     for k in sorted({s["kind"] for s in timed.spans})})
        result = {"correct": mismatch is None,
                  "attempted": sum(c.attempted for c in clients[1:]),
                  "failed": sum(c.failed for c in clients[1:]),
                  "metrics": metrics}
        return result, meta
    finally:
        meta["_stop_t0"] = time.time()
        stop_all(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (0 < args.seconds <= 600):
        ap.error("--seconds must be in (0, 600]")

    # Python workers import the package from the checkout, and every file
    # Spark or Python writes stays under the run's own work directory.
    sys.path.insert(0, REPO)
    try:
        import vector_db_at_home_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}",
              file=sys.stderr)
        return 3
    work = os.path.join(REPO, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        result, meta = run(args, work)
    except WrongMaster as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))     # only if no other run is using it
        except OSError:
            pass
    meta["wall_s"] = time.time() - T_START
    meta["stop_s"] = time.time() - meta.pop("_stop_t0")
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
