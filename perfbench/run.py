"""Crawl benchmark: one workload, one process, one Spark JVM.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It builds (or reuses) the seeded fixture
and oracle for ``--seed``, starts Spark ``local[nproc]``, sets the
workload up, runs a fixed number of timed waves sized from ``--seconds``
(``workloads.TIMED_WAVES``), checks the outputs against
the oracle and prints one line per metric followed by the JSON result as
the last line.  The exit code is 0 only when every wave and every check
passed.  ``--trace 1`` runs the workload twice in the same JVM — first
untraced, then with spans around every layer — and reports the per-layer
metrics of the traced pass together with the tracing overhead.

Extra options for the self-test: ``--size toy`` shrinks every input and
``--corrupt-oracle`` tampers with the cached oracle so the checks must fail.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = [
    ("setup_s", "s"), ("pages_per_s", "pages/s"),
    ("frontier_urls_per_s", "URLs/s"), ("wave_best_s", "s"),
    ("state_bytes_per_url", "bytes/URL"), ("peak_rss_mb", "MiB"),
]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_polite", "frontier_steady"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "toy"], default="full")
    ap.add_argument("--corrupt-oracle", action="store_true")
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    driver heap for a small shared box (the session pins -Xms to it)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = tmp


def _session(run_dir: str, cores: int):
    from polipus_spark import session

    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    tmp = os.path.join(run_dir, "tmp")
    return session.build_session(
        # one shuffle partition per core: 8 (the session default) measured
        # 17.6 s per crawl_polite wave against 14.3 s with 4 on 4 cores
        app_name="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{mem} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM (with its Python workers) and
    wait until every child process has ended."""
    from pyspark import SparkContext

    from procstat import descendants, wait_gone

    kids = descendants()
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
        left = wait_gone(kids, 30)
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        wait_gone(left, 10)


def _metrics(res, setup_s: float) -> dict:
    """The rates divide the mean work of a timed wave by the fastest timed
    wave: on a shared machine interference only ever slows a wave down, so
    the fastest one is the steadiest estimate of the program's speed."""
    best = min(res.wave_s) if res.wave_s else 0.0
    per_wave_s = max(best, 1e-9) * max(1, len(res.wave_s))
    return {
        "setup_s": setup_s,
        "pages_per_s": res.pages / per_wave_s,
        "frontier_urls_per_s": res.frontier_urls / per_wave_s,
        "wave_best_s": best,
        "state_bytes_per_url": res.state_bytes / max(1, res.urls_enqueued),
        "peak_rss_mb": res.peak_rss / (1 << 20),
    }


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import polipus_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the program under test from {ROOT}: {e}")
        return 2

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir)
    from workloads import WORKLOADS, Ctx

    cores = os.cpu_count() or 1
    tracer = None
    if a.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()    # the session build is the first span

    attempted = failed = 0
    out_metrics: dict = {}
    lines: list[str] = []
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(run_dir, cores)
        session_s = time.perf_counter() - t
        ctx = Ctx(spark=spark, workload=a.workload, size=a.size, seed=a.seed,
                  seconds=a.seconds, cache_root=os.path.join(WORK, "cache"),
                  run_dir=run_dir, corrupt_oracle=a.corrupt_oracle,
                  trace_run=tracer is not None)
        results = []
        # --trace 1: an untraced pass, then the same workload traced
        for traced in ([False, True] if tracer is not None else [False]):
            if tracer is not None:
                tracer.uninstall()
                if traced:
                    tracer.sc = spark.sparkContext
                    tracer.install()
            ctx.tracer = tracer if traced else None
            res = WORKLOADS[a.workload](ctx)
            results.append(res)
            attempted += (res.warmup_waves + len(res.wave_s) + res.waves_failed
                          + len(res.checks))
            failed += res.waves_failed + sum(not c.ok for c in res.checks)
            for c in res.checks:
                _log(f"check {c.name}: {'ok' if c.ok else 'FAILED'}"
                     + (f" ({c.detail})" if c.detail and not c.ok else ""))
        res = results[0]
        setup_s = (session_s + statistics.median(res.open_s) + res.preload_s
                   + res.warmup_s)
        e2e = _metrics(res, setup_s)
        lines.append(f"workload {a.workload} seed {a.seed} size {a.size} "
                     f"local[{cores}] timed {res.timed_s:.2f} s; waves "
                     + " ".join(f"{x:.2f}" for x in res.wave_s))
        lines.append(f"setup: session {session_s:.2f} s, open (median of "
                     f"{len(res.open_s)}) {statistics.median(res.open_s):.2f} s, "
                     f"preload {res.preload_s:.2f} s, {res.warmup_waves} warm-up wave(s) "
                     f"{res.warmup_s:.2f} s")
        for name, unit in END_TO_END:
            extra = f"  (of n={len(res.wave_s)} waves)" if name == "wave_best_s" else ""
            lines.append(f"{name} {e2e[name]:.6g} {unit}{extra}")
        ratio = failed / max(1, attempted)
        lines.append(f"failed_ratio {ratio:.6g} ratio  ({failed}/{attempted})")
        if tracer is None:
            out_metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        else:
            out_metrics = _trace_metrics(a, tracer, results, ratio, lines)
    except Exception as e:  # noqa: BLE001 — reported, never a result line
        _log(f"run failed: {e!r}")
        import traceback

        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        if tracer is not None:
            tracer.uninstall()
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0 if failed == 0 else 1


def _trace_metrics(a, tracer, results, ratio, lines) -> dict:
    from spans import PER_LAYER, layer_metrics

    untraced, traced = results
    tracer.finish()
    layer = layer_metrics(tracer, traced.t0, traced.t1, len(traced.wave_s),
                          traced.counts)
    p50 = lambda r: statistics.median(r.wave_s) if r.wave_s else 0.0  # noqa: E731
    layer["trace.wave_p50_s"] = p50(traced)
    layer["trace.untraced_wave_p50_s"] = p50(untraced)
    layer["trace.overhead_s"] = p50(traced) - p50(untraced)
    layer["failed_ratio"] = ratio
    path = os.path.join(WORK, "traces",
                        f"{a.workload}-{a.seed}-{tracer.run_id}.jsonl")
    tracer.write(path)
    out = {}
    for name, unit in PER_LAYER:
        out[name] = {"value": layer.get(name, 0.0), "unit": unit}
        lines.append(f"{name} {out[name]['value']:.6g} {unit}")
    lines.append(f"spans written to {os.path.relpath(path, ROOT)}")
    return out


if __name__ == "__main__":
    sys.exit(main())
