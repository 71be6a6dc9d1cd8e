"""traject-spark benchmark: three seeded closed-loop workloads through the
package's public entry points.

    python3 perfbench/run.py --workload index_iso2709_ndjson --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see perfbench/README.md). Everything the run writes goes
under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import session  # noqa: E402
from tracing import MemorySampler, StatusStore, Tracer  # noqa: E402

#: generated inputs kept per workload (older seeds are deleted)
INPUT_CACHE_KEEP = 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def inputs_for(workload: str, seed: int) -> tuple:
    """Generated inputs of (workload, seed), cached by generator version
    and the generator's source (which also writes the manifest the checks
    read); the generator runs in its own process. -> (dir, manifest)."""
    cache = os.path.join(WORK, "inputs")
    with open(gen.__file__, "rb") as fh:
        source = hashlib.sha256(fh.read()).hexdigest()[:12]
    key = f"{workload}-s{seed}-v{gen.GEN_VERSION}-{source}"
    path = os.path.join(cache, key)
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
             workload, "--seed", str(seed), "--out", tmp],
            check=True, stdout=subprocess.DEVNULL,
        )
        os.rename(tmp, path)
    mine = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d)
        for d in os.listdir(cache) if d.startswith(workload + "-")
    )
    for _, old in mine[:-INPUT_CACHE_KEEP]:
        if old != key:
            shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    with open(manifest, encoding="utf-8") as fh:
        return path, json.load(fh)


def probe_setup() -> float:
    """Set-up seconds of a fresh process."""
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "session.py"), "--probe", WORK],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=120,
    )
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("SETUP ")]
    if not line:
        raise RuntimeError("set-up probe printed no SETUP line")
    return float(line[-1].split()[1])


def timed_window(wl, seconds: float, memory) -> dict:
    """Closed loop: run, check, repeat until ``seconds`` have passed.
    Each run starts from the live heap (untimed full collection)."""
    times, failed = [], 0
    t_end = time.perf_counter() + seconds
    while True:
        memory.collect()
        try:
            secs = wl.run()
        except Exception as e:  # a failed run counts against error rate
            print(f"perfbench: run failed: {e!r}", file=sys.stderr)
            secs = None
        problems = wl.check() if secs is not None else ["run raised"]
        if problems:
            failed += 1
            print(f"perfbench: check failed: {problems}", file=sys.stderr)
        else:
            times.append(secs)
        if time.perf_counter() >= t_end:
            break
    return {"times": times, "attempted": len(times) + failed, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "traject_spark", "__init__.py")):
        fail(f"no traject_spark package next to {HERE}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    os.makedirs(WORK, exist_ok=True)
    inputs, manifest = inputs_for(args.workload, args.seed)
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"input sha256={manifest['digest']}", flush=True)
    work = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session.prepare_env(WORK)

    # two set-up samples, one fresh process and this run's own: each costs
    # a JVM start (~8 s), and a full benchmark pass (22 runs per workload)
    # must fit in under an hour
    setups = [] if args.trace else [probe_setup()]
    spark, own_setup = session.start(WORK)
    setups.append(own_setup)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, inputs, manifest, work)
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_digest": manifest["digest"], "gen_version": gen.GEN_VERSION,
        "host": session.host(), "session_conf": session.session_conf(WORK),
        "setup_s": setups,
    }
    try:
        wl.start()
        tracer = Tracer()
        with tracer.span("cold_run"):
            t0 = time.perf_counter()
            try:
                wl.run()
                cold_problems = wl.check()
            except Exception as e:  # reported as incorrect, not a crash
                cold_problems = [f"cold run raised {e!r}"]
            cold = time.perf_counter() - t0
        t_warm = time.perf_counter() + wl.warm_seconds
        while time.perf_counter() < t_warm:
            wl.run()
        mock = [wl.mock.pid] if wl.mock else []
        with MemorySampler(spark, session.heap_gb(), exclude=mock) as memory:
            window = timed_window(wl, args.seconds, memory)
        if args.trace:
            store = StatusStore(spark)
            layer = {}
            with tracer.span("traced"):
                wl.trace(tracer, store, layer)
                if args.workload == "reindex_parquet_solr":
                    # curate_corpus has no end-to-end runs in BENCHMARK.json:
                    # its layers are timed here, on inputs of the same seed
                    c_inputs, c_manifest = inputs_for("curate_corpus", args.seed)
                    artifact["input_digest.curate_corpus"] = c_manifest["digest"]
                    curate = WORKLOADS["curate_corpus"](
                        spark, c_inputs, c_manifest, work)
                    curate.run()  # untraced warm-up, like the cold run
                    with tracer.span("curate_corpus"):
                        curate.trace(tracer, store, layer)
        times = window["times"]
        # no successful run: throughput reads 0 and the result is incorrect
        median = statistics.median(times) if times else float("inf")
        artifact.update(cold_run_s=cold, cold_problems=cold_problems,
                        run_s=times, attempted=window["attempted"],
                        failed=window["failed"], peak_rss_mb=memory.peak_mb,
                        heap_peak_mb=memory.heap_peak_mb,
                        heap_pool_peaks_mb=memory.pool_peaks_mb,
                        off_heap_peak_mb=memory.off_heap_peak_mb)
        if args.trace:
            layer["cli.cold_run_s"] = cold if "cli.run_s" in layer else 0.0
            traced = layer["cli.run_s"] if "cli.run_s" in layer else layer["corpus.curate_s"]
            layer["trace.overhead_share"] = traced / median - 1.0 if times else 0.0
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]}
                       for n in names}
            tracer.write(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"),
                         {"layers": layer, **artifact})
        else:
            ok = window["attempted"] - window["failed"]
            values = {
                "records_per_s": manifest["records"] / median,
                "setup_s": statistics.median(setups),
                "peak_rss_mb": memory.peak_mb,
                "ok_rate": ok / window["attempted"],
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        artifact["metrics"] = metrics
        with open(os.path.join(WORK, f"result-{args.workload}-s{args.seed}"
                               f"-t{args.trace}.json"), "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=1)
    finally:
        wl.stop()
        session.shutdown(spark)
    correct = not cold_problems and window["failed"] == 0
    print(f"perfbench: {len(times)} timed runs, median {median:.4f}s, "
          f"setup samples {[round(s, 3) for s in setups]}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": window["attempted"],
                      "failed": window["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
