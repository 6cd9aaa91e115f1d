"""Benchmark entry point.

    python3 perfbench/run.py --workload extract-mix --seed 1 --seconds 10 --trace 0

Runs one workload of `workloads.py` in this process against
`local[nproc]` and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are its per-layer metrics, taken from span recorders
around the program's public functions and from Spark's event log. The
line before it is a detail record (host, versions, loadavg, every
operation kind's median and tail with its sample count).

All files go under `.perfbench_work/` in the checkout and are removed at
exit; traced runs also keep their spans in `.perfbench_out/`.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the contract allows 180 s per run


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def start_spark(workload: str, work: str, log_dir: str | None):
    from osmexpress_spark import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # C1 only: a run's JVM lives about a minute, too short for C2
        # compiles to pay back; C1 alone fills the default 48 MB code cache
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
                                         "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:+UseParallelGC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # zstandard is not installed; the reducer reads plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.rolling.maxFileSize": "16m",
        })
    spark = get_spark(app_name=f"perfbench-{workload}", cpus=n, shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and the Python workers it forked, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    t0 = time.time()
    while kids and time.time() - t0 < 20:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")
                and open(f"/proc/{k}/stat").read().rsplit(")", 1)[1].split()[0] != "Z"]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass


def per_layer(run, per_op: dict, names: dict) -> dict:
    t = run.tracer

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def span_med(name):
        return med(t.durations(name))

    def op_med(kind, key):
        return med([per_op.get(f"{kind}-{i}", {}).get(key, 0.0)
                    for i in range(1, run.n_ops[kind] + 1)])

    out = dict.fromkeys(names, 0.0)
    out.update({k: v for k, v in run.layer.items() if k in names})
    out.update({
        "spatial.cover_s": span_med("spatial.cover"),
        "spatial.ranges": med(t.counts["spatial.ranges"]),
        "extract.build_s": span_med("extract.build"),
        "extract.exec_s": span_med("extract.exec"),
        "extract.jobs": op_med("extract", "jobs"),
        "extract.stages": op_med("extract", "stages"),
        "closure.s": span_med("closure"),
        "lookup.jobs": op_med("lookup_node", "jobs"),
        "lookup.exec_ms": 1e3 * span_med("lookup.exec"),
        "store.read_all_s": span_med("store.read_all"),
        "update.merge_specs_s": span_med("update.merge_specs"),
        "replication.apply_batch_s": span_med("replication.apply_batch"),
        "replication.jobs": op_med("commit", "jobs"),
        "diff.build_s": span_med("diff.build"),
        "diff.exec_s": span_med("diff.exec"),
        "diff.jobs": op_med("augdiff", "jobs"),
        "lmdb_kv.get_us": 1e6 * span_med("lmdb_kv.get"),
        "capnp_codec.decode_us": 1e6 * span_med("capnp_codec.decode"),
        "expand.write_s": med([s["end"] - s["start"] for s in t.spans
                               if s["name"] == "expand.write" and "end" in s]),
    })
    loop_ops = [v for op, v in per_op.items()
                if op not in ("setup", "idle") and not op.startswith("probe")]
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
                "broadcast_joins", "smj_joins"):
        out[f"spark.{key}"] = sum(v.get(key, 0.0) for v in loop_ops) / max(1, run.iterations)
    return {k: out[k] for k in names}


def measure_overhead(run) -> float:
    """Traced minus untraced latency of one repeated operation, in ms:
    span wrappers and job groups. The event log listener runs in both
    halves, so its cost is not in this figure."""
    on, off = [], []
    for _ in range(3):
        for enabled, acc in ((False, off), (True, on)):
            run.tracer.enabled = enabled
            t0 = time.perf_counter()
            run.overhead_probe()
            acc.append(time.perf_counter() - t0)
    run.tracer.enabled = True
    return 1e3 * (statistics.median(on) - statistics.median(off))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload of BENCHMARK.json, or corpus-dedup (by hand)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # Spark prefers this variable over spark.local.dir when the caller set it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    loadavg_start = os.getloadavg()
    sys.path[:0] = [HERE, ROOT]
    spark = None
    try:
        try:
            import pyspark  # noqa: F401

            import osmexpress_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
            return 2
        import spans
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2

        tracer = spans.Tracer(enabled=bool(args.trace))
        if args.trace:
            tracer.install()
        log_dir = os.path.join(work, "eventlog") if args.trace else None
        if log_dir:
            os.makedirs(log_dir)
        t0 = time.perf_counter()
        spark = start_spark(args.workload, work, log_dir)
        session_s = time.perf_counter() - t0
        run = workloads.Run(args.workload, args.seed, args.seconds, spark, work,
                            tracer, T_START)
        run.layer["setup.session_s"] = session_s
        workloads.WORKLOADS[args.workload](run)
        run.detail["loop_s"] = run.loop_end - run.loop_start
        run.detail["checks_s"] = time.perf_counter() - run.loop_end
        overhead_ms = measure_overhead(run) if args.trace else None
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss_kb = _status_kb("self", "VmHWM") + (_status_kb(jvm.pid, "VmHWM") if jvm else 0)
        host = {
            "nproc": len(os.sched_getaffinity(0)),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        stop_spark(spark)
        spark = None

        if args.trace:
            per_op = spans.reduce_event_log(spans.read_event_log(log_dir), run.windows)
            names = {m["name"]: m["unit"] for m in bench["per_layer"]}
            values = per_layer(run, per_op, names)
            values["trace.overhead_ms"] = overhead_ms
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            names = {m["name"]: m["unit"] for m in bench["end_to_end"]}
            values = {**run.end_to_end(), "peak_rss_mb": rss_kb / 1024.0}
        metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
        host["loadavg_start"], host["loadavg_end"] = loadavg_start, os.getloadavg()
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "host": host, "iterations": run.iterations,
                  "ops": run.op_summary(), **run.detail,
                  "layer": run.layer,
                  "error_rate": run.failed / max(1, run.attempted)}
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}), flush=True)
        return 0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:
                traceback.print_exc(file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
