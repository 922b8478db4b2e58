"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pit_encode --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it give each timing with its sample count. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics, including the tracing overhead.
Exit status: 0 when every output check passed, 1 when one failed, 2 when
the engine could not be imported or started.

Everything the run writes (Spark scratch, generated inputs, streaming
index) lives under ``.perfbench_work/`` and is removed at the end; the
trace's spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and size the driver for a shared box. Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the launcher JVM and the driver JVM; -UsePerfData, or each writes
    # /tmp/hsperfdata_<user>
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        opts = os.environ.get(var, "")
        os.environ[var] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def start_session(work_dir: str, cores: int):
    from feature_extractor_spark.session import get_spark

    return get_spark(
        "perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _quiesce(spark) -> None:
    """Collect garbage on both sides before a timed pass, so every pass
    starts from a similar heap instead of paying for its predecessor."""
    gc.collect()
    spark._jvm.System.gc()


def measure(wl, spark, seconds: float, trace: bool) -> dict:
    """Timed window: passes until the next one would end past
    ``seconds`` (at least 3). With ``trace`` passes alternate untraced and
    traced; only untraced passes feed the end-to-end figures."""
    from perfbench.stats import median
    from perfbench.workloads import CheckFailed

    plain, traced, roots = [], [], []
    items = attempted = failed = 0
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        ran = plain + traced
        if len(ran) >= 3 and elapsed + median(ran) > seconds:
            break
        on = trace and len(plain) > len(traced)
        wl.ledger.enabled = on
        wl.ledger.pass_id = attempted
        _quiesce(spark)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with wl.ledger.span(f"{wl.name}.pass") as root:
                n = wl.run_pass()
        except CheckFailed as e:
            print(f"check failed: {e}", flush=True)
            failed += 1
            wl.ledger.enabled = False
            break
        dt = time.perf_counter() - t0
        wl.ledger.enabled = False
        wl.reset()
        (traced if on else plain).append(dt)
        if on:
            roots.append(root)
        else:
            items += n
    return {"plain": plain, "traced": traced, "roots": roots, "items": items,
            "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import feature_extractor_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    here = os.path.join(ROOT, "feature_extractor_spark")
    if os.path.dirname(os.path.abspath(feature_extractor_spark.__file__)) != here:
        print(f"perfbench: the engine was imported from {feature_extractor_spark.__file__}, "
              f"not from this checkout's {here}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work_dir, ignore_errors=True)
    prepare_env(work_dir)
    cores = os.cpu_count() or 1
    t = time.perf_counter()
    spark = start_session(work_dir, cores)
    session_s = time.perf_counter() - t
    try:
        return run(args, spark, session_s, work_dir, out_dir)
    finally:
        stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args, spark, session_s: float, work_dir: str, out_dir: str) -> int:
    from perfbench import report
    from perfbench.ledger import Ledger
    from perfbench.stats import summary
    from perfbench.workloads import WORKLOADS, CheckFailed

    ledger = Ledger(spark, enabled=False)
    wl = WORKLOADS[args.workload](spark, ledger, work_dir, args.seed, args.scale)
    correct = True
    try:
        # set-up: generate three times (the median is what set-up pays
        # once; equal digests prove the generator is a function of the
        # seed), load, then the cold passes
        gens, digests = [], set()
        for _ in range(3):
            t = time.perf_counter()
            g = wl.generate()
            gens.append(time.perf_counter() - t)
            digests.add(g.digest())
        if len(digests) != 1:
            raise CheckFailed("generator is not deterministic for this seed")
        t = time.perf_counter()
        wl.load(g)
        wl.warm()
        load_warm_s = time.perf_counter() - t
        setup_s = (time.perf_counter() - T_PROCESS) - (sum(gens) - sorted(gens)[1])
        res = measure(wl, spark, args.seconds, bool(args.trace))
        if res["failed"]:
            correct = False
        else:
            wl.final_checks()
    except CheckFailed as e:
        print(f"check failed: {e}", flush=True)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    info = {
        "workload": wl.name, "seed": args.seed, "scale": args.scale,
        "input": g.describe(), "truth": report.jsonable(getattr(wl, "truth", {})),
        "session_s": session_s, "gen_s": gens, "load_warm_s": load_warm_s,
        "item": wl.unit, "passes": summary(res["plain"]),
    }
    if args.trace:
        metrics = report.per_layer(wl, res, session_s)
        info["traced_passes"] = summary(res["traced"])
        os.makedirs(out_dir, exist_ok=True)
        ledger.write(os.path.join(out_dir, f"spans_{wl.name}_s{args.seed}.jsonl"))
    else:
        metrics = report.end_to_end(res, setup_s)
    print(json.dumps(info), flush=True)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
