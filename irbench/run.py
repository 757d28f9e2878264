"""Benchmark command: one workload, one seed, one process on local[nproc].

    python3 irbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  It starts one Spark session, sets the
workload up, runs warm-up ops, then a closed loop of measured ops with one
client (``--seconds`` times the workload's ops per second, so the op
sequence depends only on the seed and the run length), checks outputs
outside the timed window and prints, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans around each
layer call) with ``--trace 1``.  Metric names and units come from
``BENCHMARK.json`` at the checkout root.  ``attempted`` counts
warm-up and measured ops; an op fails when it raises or an output check
refutes it.  Beside every run it writes a record with the per-op times,
the host record and, when traced, every span, to ``irbench_runs/``.  All
scratch data lives in ``.irbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the driver heap, sized well under host RAM (session.get_spark's default
#: of 32g exceeds a 15 GB host)
DRIVER_MEM = "3g"
#: a run that has not finished by then aborts without a result
DEADLINE_S = 170

#: per-layer metric -> the end-to-end metric it should move, and on which
#: workload (i = interactive, g = ingest).  Documentation only: the names
#: and units are BENCHMARK.json's, and a run refuses to start if the two
#: name sets differ.
MOVES = {
    "sources.corpus_s": "setup_s i g",
    "index.build_s": "setup_s i g",
    "index.write_s": "setup_s i g",
    "index.encode_s": "setup_s i",
    "index.load_s": "setup_s i g",
    "graph.pagerank_s": "setup_s i",
    "index.postings": "store_bytes_per_doc i g",
    "index.terms": "store_bytes_per_doc i g",
    "index.bytes": "store_bytes_per_doc i g",
    "analysis.query_s": "op_p50_s i (predicted small)",
    "query.route_s": "op_p50_s i",
    "query.score_s": "op_p50_s work_per_s i",
    "query.wand_share": "explains query.score_s i",
    "query.routed": "base of query.wand_share i",
    "query.wand_op_p50_s": "op_p50_s work_per_s i",
    "query.exhaustive_op_p50_s": "op_p50_s i",
    "query.batch_s": "none (batch replay after the loop) i",
    "query.fuse_s": "none (batch replay after the loop) i",
    "evaluation.eval_s": "none (batch replay after the loop) i",
    "streaming.drain_s": "op_p50_s work_per_s g",
    "index.commit_s": "op_p50_s work_per_s g",
    "query.first_read_s": "op_p50_s g",
    "index.bytes_written_per_doc": "index.commit_s store_bytes_per_doc g",
    "session.jobs_per_op": "op_p50_s i g (i most)",
    "session.tasks_per_op": "op_p50_s i g",
    "trace.op_p50_s": "traced twin of op_p50_s i g",
    "trace.remainder_share": "op wall time outside layer spans i g",
    "trace.overhead_share": "span bookkeeping time / op wall time i g",
    "warmup.op_mean_s": "setup_s i g (warm-up ops are not measured)",
}
SETUP_LAYERS = ("sources.corpus", "index.build", "index.write", "index.encode",
                "index.load", "graph.pagerank")
OP_LAYERS = ("analysis.query", "query.route", "query.score", "streaming.drain",
             "index.commit", "query.first_read")
#: layers timed once per run, after the measured loop (interactive's
#: batch replay)
FINAL_LAYERS = ("query.batch", "query.fuse", "evaluation.eval")


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, layer = ({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))
    if set(layer) != set(MOVES):
        raise ValueError("BENCHMARK.json per_layer and irbench MOVES name different metrics: "
                         f"{sorted(set(layer) ^ set(MOVES))}")
    return e2e, layer


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no op handler swallows it."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def start_spark(work: str, parallelism: int):
    from information_retrieval_system_spark.session import get_spark

    # keep every JVM's scratch files (and no perf-data file in /tmp)
    # inside the checkout
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = get_spark("irbench", parallelism=parallelism, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until each process has ended."""
    from pyspark import SparkContext

    from irbench.host import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = descendants(proc.pid) if proc else []
    try:
        for q in spark.streams.active:
            q.stop()
    finally:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.spark = None

    def run(self) -> dict:
        from irbench.host import HostRecord
        from irbench.trace import JobCounter, Tracer
        from irbench.workloads import WORKLOADS

        a = self.args
        parallelism = len(os.sched_getaffinity(0))
        host = HostRecord(parallelism)
        self.spark = spark = start_spark(self.work, parallelism)
        session_s = time.perf_counter() - T_START
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tr = Tracer(bool(a.trace))
        counter = JobCounter(spark.sparkContext) if a.trace else None
        wl = WORKLOADS[a.workload](spark, a.seed, tr, a.seconds, self.work)

        tr.op = "setup"
        t0 = time.perf_counter()
        with tr.span("setup"):
            wl.setup(os.path.join(self.work, "served"))
        data_setup_s = time.perf_counter() - t0
        host.sample_rss(jvm_pid)

        ops: list[dict] = []

        def run_op(kind: str, i: int) -> dict:
            inp = wl.prepare(kind, i)
            rec = {"kind": kind, "i": i, "ok": False}
            ops.append(rec)
            tr.op = f"{kind}{i}"
            if counter:
                counter.set_group(tr.op)
            try:
                t0 = time.perf_counter()
                with tr.span("op"):
                    out = wl.op(inp)
                rec["wall_s"] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                return rec
            finally:
                if counter:
                    counter.clear_group()
            rec["work"] = out["work"]
            rec["routes"] = out.get("routes", {})
            if counter:
                rec["jobs"], rec["tasks"] = counter.count(tr.op, *out.get("groups", []))
            try:
                rec["ok"] = bool(wl.check(inp, out))
            except Exception:
                traceback.print_exc()
            if "bytes_written" in out:
                rec["bytes_written"] = out["bytes_written"]
            if a.trace:
                st = tr.self_times(tr.op)
                rec["layers"] = {k: v for k, v in st.items() if k != "op"}
                rec["remainder_s"] = st.get("op", 0.0)
            return rec

        t_warm = time.perf_counter()
        for i in range(wl.warmup_ops):
            run_op("warmup", i)
        warmup_s = time.perf_counter() - t_warm

        t_loop = time.perf_counter()
        setup_s = t_loop - T_START
        for i in range(wl.n_ops):
            run_op("op", i)
        loop_s = time.perf_counter() - t_loop
        host.sample_rss(jvm_pid)

        measured = [o for o in ops if o["kind"] == "op"]
        tr.op = "final"
        try:
            bad = set(wl.final_check())
        except Exception:
            traceback.print_exc()
            bad = {o["i"] for o in measured}  # no measured op can be vouched for
        for o in measured:
            if o["i"] in bad:
                o["ok"] = False
        good = [o for o in measured if o["ok"]]
        failed = sum(1 for o in ops if not o["ok"])
        times = [o["wall_s"] for o in good]
        if not times:
            raise RuntimeError("no measured op succeeded")
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "work_per_s": sum(o["work"] for o in good) / sum(times),
            "store_bytes_per_doc": wl.store_bytes_per_doc(),
        }
        layer = self.layer_metrics(tr, wl, ops, good) if a.trace else {}
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "session_s": session_s, "data_setup_s": data_setup_s, "warmup_s": warmup_s,
            "loop_s": loop_s, "final_check_failed_ops": sorted(bad),
            "op_p90_s": p90(times), "measured_ops": len(times),
            "attempted": len(ops), "failed": failed,
            "fail_ratio": failed / len(ops),
            "end_to_end": e2e, "per_layer": layer, "ops": ops,
            "host": host.finish(time.perf_counter() - T_START),
        }
        if a.trace:
            # tracing work outside the op windows: job-group bookkeeping and
            # listener-bus drains (not in any op's wall time)
            record["job_counter_s"] = counter.cost_s
            record["spans"] = tr.spans
        return record

    def layer_metrics(self, tr, wl, ops, good) -> dict:
        setup_st, final_st = tr.self_times("setup"), tr.self_times("final")
        m = {f"{n}_s": setup_st.get(n, 0.0) for n in SETUP_LAYERS}
        m.update({f"{n}_s": final_st.get(n, 0.0) for n in FINAL_LAYERS})
        for n in OP_LAYERS:
            m[f"{n}_s"] = median_or_zero(o["layers"].get(n, 0.0) for o in good)
        m["index.postings"] = wl.layout["postings"]
        m["index.terms"] = wl.layout["terms"]
        m["index.bytes"] = wl.layout["bytes"]
        routed: dict[str, int] = {}
        for o in good:
            for r, c in o["routes"].items():
                routed[r] = routed.get(r, 0) + c
        n_routed = sum(routed.values())
        m["query.routed"] = n_routed
        m["query.wand_share"] = routed.get("wand", 0) / n_routed if n_routed else 0.0
        for route in ("wand", "exhaustive"):
            # per-route op latency: single-query ops only
            m[f"query.{route}_op_p50_s"] = median_or_zero(
                o["wall_s"] for o in good if o["routes"] == {route: 1})
        written = [o["bytes_written"] / o["work"] for o in good if "bytes_written" in o]
        m["index.bytes_written_per_doc"] = median_or_zero(written)
        m["session.jobs_per_op"] = statistics.mean(o["jobs"] for o in good)
        m["session.tasks_per_op"] = statistics.mean(o["tasks"] for o in good)
        m["trace.op_p50_s"] = statistics.median(o["wall_s"] for o in good)
        m["trace.remainder_share"] = statistics.median(
            o["remainder_s"] / o["wall_s"] for o in good)
        m["trace.overhead_share"] = tr.cost_s / sum(o["wall_s"] for o in ops if "wall_s" in o)
        warm = [o["wall_s"] for o in ops if o["kind"] == "warmup" and "wall_s" in o]
        m["warmup.op_mean_s"] = statistics.mean(warm) if warm else 0.0
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "information_retrieval_system_spark")):
        print("irbench: the engine package information_retrieval_system_spark is not in "
              f"{ROOT}; run from the root of a full checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".irbench_work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    runner = Runner(a, work)
    record = None
    try:
        record = runner.run()
    except Exception:
        traceback.print_exc()
    finally:
        try:
            if runner.spark is not None:
                stop_spark(runner.spark)
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's work dir is still there
                pass
    if record is None:
        return 1

    out_dir = os.path.join(ROOT, "irbench_runs")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    units, values = ((layer_units, record["per_layer"]) if a.trace
                     else (e2e_units, record["end_to_end"]))
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    summary = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items())
    print(f"irbench {a.workload} seed={a.seed} trace={a.trace}: {summary} "
          f"op_p90_s={record['op_p90_s']:.6g}s (of {record['measured_ops']} ops) "
          f"fail_ratio={record['fail_ratio']:.6g}ratio "
          f"({record['failed']}/{record['attempted']} ops) record={os.path.relpath(path, ROOT)}")
    correct = record["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
