#!/usr/bin/env python3
"""Benchmark for the document -> search path of ``vectordb_etl_spark``.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run starts its own Spark driver at
``local[<cpus>]`` with a fresh warehouse under ``.perfbench_work/`` (deleted
on exit), sets up, runs an unmeasured warm-up of the workload's own op mix,
then measures single-client closed-loop ops for ``--seconds`` and checks
every answer. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``perfbench detail: {...}``) carries input sizes, per-kind
latencies, the tail percentile, the warm-up drift ratio and check messages.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "vectordb_etl_spark" / "__init__.py"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path) -> int:
    """Run environment: ``local[<cpus>]``, Spark scratch and temp files
    inside the run's work directory, and the repository root on the Python
    workers' path so pandas UDFs can import the package from any cwd."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_DRIVER_MEMORY="2g",
        PYTHONHASHSEED="0",
        TMPDIR=str(work / "tmp"),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    sys.path.insert(0, str(ROOT))
    return cpus


def start_spark(name: str, work: Path, trace: bool):
    from vectordb_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:+UseParallelGC"
        ),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then close the gateway JVM's stdin (it exits on
    EOF, taking its Python workers with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()


def tail(lat: list[float]) -> dict:
    """Highest percentile with at least ten measured ops beyond it. It is
    reported only when it lies above the median (21 ops or more); a shorter
    run has no measurable tail, and ``value`` is None."""
    n = len(lat)
    j = n - 11
    if j < 0 or (j + 1) / n <= 0.5:
        return {"value": None, "unit": "ms", "n": n,
                "note": "no tail: fewer than 21 measured ops"}
    return {"value": sorted(lat)[j], "unit": "ms", "n": n,
            "percentile": round(100.0 * (j + 1) / n, 1)}


def drift(ops) -> float:
    """Median of the last quarter of measured ops over that of the first,
    each op scaled by its kind's median so a mixed workload compares like
    with like. Well below 1.0 means the run was still warming up."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.ms)
    med = {k: statistics.median(v) for k, v in by_kind.items()}
    x = [o.ms / med[o.kind] for o in ops]
    q = max(1, len(x) // 4)
    return statistics.median(x[-q:]) / statistics.median(x[:q])


def run(args, work: Path, cpus: int):
    import spans as tr
    import workloads as W

    trace = bool(args.trace)
    spark = start_spark(args.workload, work, trace)
    boot_s = time.time() - T_START
    sc = spark.sparkContext
    tracer = tr.Tracer()
    wl = W.WORKLOADS[args.workload](spark, work, args.seed)
    ops: list[W.Op] = []
    problems: list[str] = []

    def describe(desc, op=None):
        """Label the Spark jobs that follow, and the spans of an op."""
        if trace:
            sc.setJobDescription(desc)
        tracer.op = op

    def do_op(measured: bool) -> None:
        i = len(ops)
        kind = next(kinds)
        op = W.Op(f"{wl.name}:{i}:{kind}", kind, measured)
        ops.append(op)
        try:
            inputs = wl.prepare(op, i)
            before = W.data_files(wl.runner) if trace else None
            describe(op.op_id, op.op_id)
            op.t0 = time.time()
            try:
                wl.run(op, inputs)
                op.ok = True
            finally:
                op.t1 = time.time()
                describe(f"{wl.name}:between")
            if before is not None:
                op.extra["files_new"] = len(set(W.data_files(wl.runner)) - set(before))
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            return
        try:
            wl.after(op)
        except W.CheckFailed as e:
            problems.append(str(e))

    try:
        with tr.installed(tracer) if trace else nullcontext():
            describe(f"{wl.name}:setup")
            wl.setup(tracer)
            kinds = wl.kinds()
            for _ in range(wl.warmup_ops):
                do_op(measured=False)
            t_first = time.time()
            deadline = t_first + args.seconds
            while time.time() < deadline:
                do_op(measured=True)
            describe(f"{wl.name}:check")
            try:
                wl.check()
            except W.CheckFailed as e:
                problems.append(str(e))
            text_bytes = data_bytes = 0
            if trace:
                from pyspark.sql import functions as F

                text_bytes = wl.runner.store.read().agg(
                    F.sum(F.octet_length("text"))
                ).first()[0]
                data_bytes = sum(W.data_files(wl.runner).values())
    finally:
        stop_spark(spark)

    measured = [o for o in ops if o.measured]
    ok = [o for o in measured if o.ok]
    lat = [o.ms for o in ok]
    failed = len(ops) - sum(o.ok for o in ops)
    if not lat:
        problems.append("no measured op succeeded")
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "spark_master": f"local[{cpus}]", "clients": 1, "loop": "closed",
        "inputs": wl.inputs,
        "ops": {"warmup": wl.warmup_ops, "measured": len(measured),
                "measured_ok": len(ok), "failed": failed},
        "boot_s": boot_s,
        "measured_ms": [[o.kind, round(o.ms, 1)] for o in ok],
        "problems": problems,
    }
    if lat:
        detail.update({
            "op_tail_ms": tail(lat),
            "drift_last_over_first_quarter": drift(ok),
            **wl.summary(ok),
        })
    # a kind the window never reached falls back to the all-ops median
    p50_kind = {
        k: statistics.median([o.ms for o in ok if o.kind == k] or lat or [0])
        for k in wl.mix
    }
    if trace:
        metrics = layer_metrics(wl, ok, tracer, work, text_bytes, data_bytes)
        tracer.write(work.parent / f"{wl.name}-seed{args.seed}-spans.jsonl")
    else:
        metrics = {
            "setup_s": {"value": t_first - T_START, "unit": "s"},
            "op_p50_ms": {"value": statistics.median(lat) if lat else 0.0,
                          "unit": "ms"},
            "op_mix_ms": {"value": sum(s * p50_kind[k]
                                       for k, s in wl.mix.items()),
                          "unit": "ms"},
        }
    return {
        "correct": not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }, detail


def layer_metrics(wl, ok, tracer, work: Path, text_bytes, data_bytes) -> dict:
    import eventlog

    ids = {o.op_id for o in ok}
    # the IVF path binds topk_search inside operators.ann, out of reach of
    # the spans, so top-k is timed on exact-kind ops only
    exact_ids = {o.op_id for o in ok if o.kind == "exact"}
    m: dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    for span in (
        "pipeline.extract", "pipeline.transform", "pipeline.load",
        "search.search_with_scores", "store.read",
        "functions.filter_expr.parse_filter",
        "functions.language.detect_language_query", "embeddings.query_vector",
        "store.fanout_search_indexed", "store.open_index",
        "store.upsert_documents",
    ):
        put(f"{span}_ms", tracer.median_ms(span, ids), "ms")
    put("operators.topk.topk_search_ms",
        tracer.median_ms("operators.topk.topk_search", exact_ids), "ms")
    put("search.search_with_scores_self_ms",
        tracer.median_ms("search.search_with_scores", ids, self_time=True),
        "ms")
    for span, name in (("pipeline.bulk_load", "pipeline.bulk_load_ms"),
                       ("ann.index_build", "ann.index_build_ms")):
        put(name, sum(s.ms for s in tracer.spans
                      if s.name == span and s.op is None), "ms")

    if wl.name == "ingest":
        docs = sum(o.extra["extract_rows"] for o in ok)
        put("chunker.chunks_per_doc",
            sum(o.extra["chunks"] for o in ok) / max(1, docs), "ratio")
    else:
        put("chunker.chunks_per_doc", wl.inputs["chunks_per_doc"], "ratio")
    put("store.files_per_batch",
        med(o.extra["files_new"] for o in ok if o.kind in ("batch", "refresh")),
        "count")
    put("store.bytes_per_text_byte", data_bytes / max(1, text_bytes or 0),
        "ratio")

    summ = eventlog.summarize(work / "eventlog")
    stats = {o.op_id: summ.get(o.op_id, eventlog.DescStats()) for o in ok}
    put("spark.jobs_per_op", med(s.jobs for s in stats.values()), "count")
    put("spark.tasks_per_op", med(s.tasks for s in stats.values()), "count")
    put("spark.executor_run_ms_per_op",
        med(s.executor_run_ms for s in stats.values()), "ms")
    put("spark.driver_gap_ms_per_op",
        med(o.ms - stats[o.op_id].busy_ms() for o in ok), "ms")
    put("spark.shuffle_write_bytes_per_op",
        med(s.shuffle_write_bytes for s in stats.values()), "bytes")
    for kind in ("exact", "ivf"):
        put(f"spark.{kind}_input_rows_per_hit",
            med(stats[o.op_id].input_records / max(1, len(o.extra["hits"]))
                for o in ok if o.kind == kind),
            "ratio")
    put("trace.op_p50_ms", med(o.ms for o in ok), "ms")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_file():
        print(f"perfbench: {PACKAGE.relative_to(ROOT)} not found; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    out_dir = Path.cwd() / ".perfbench_work"
    work = out_dir / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        cpus = configure_env(work)
        result, detail = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench detail: " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
