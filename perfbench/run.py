"""Benchmark of lucenenet_spark: index build, top-k search and incremental
update, driven through the package's public API.

    python3 perfbench/run.py --workload {build,search,update} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its corpus and queries
from ``--seed``, measures its workload for at least ``--seconds`` seconds of
timed work, checks every output (``checkindex.verify`` and the reference
oracle), prints one line per metric and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the calls into each layer in spans
and reports the per-layer metrics instead. The full result (and, traced,
every span) is written under ``.perfbench_out/`` in the checkout.

Exits 1 when an output is wrong (after printing the result) and 2 when the
package is missing or the run fails (without a result).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402 - the set-up clock starts before the imports
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_out"


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(ops_rel: list[float], setup_s: float, peak_rss: int,
               index_bytes: int, text_bytes: int) -> dict:
    """The gated metrics. ``op_cpu_per_probe`` is the mean, over the timed
    operations, of the process tree's CPU time during the operation divided
    by the CPU time of the speed probe (see ``session.RssSampler``) around
    it: the cost of an operation in units of the host's speed at the time,
    which on a shared host varies by up to 2.5x."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_cpu_per_probe": {"value": statistics.fmean(ops_rel), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        "index_bytes_per_text_byte": {"value": index_bytes / text_bytes, "unit": "ratio"},
    }


def detail(run, attempted: int, failed: int, probes: list[float]) -> dict:
    """The workload's own named metrics. A throughput sample ``*_per_s`` is
    reported as its median; a timing sample ``x_s`` as ``x_p50_s`` plus
    ``x_pNN_s``, the highest percentile with ten samples beyond it."""
    from stats import summarize

    out = {
        "failed_frac": {"value": failed / attempted, "unit": "ratio", "n": attempted},
        "op_p50_s": {"value": statistics.median(run.ops), "unit": "s", "n": len(run.ops)},
        "op_cpu_s": {"value": statistics.fmean(run.ops_cpu), "unit": "s", "n": len(run.ops)},
        "probe_p50_s": {"value": statistics.median(probes), "unit": "s", "n": len(probes)},
    }
    for name, values in sorted(run.samples.items()):
        s = summarize(values)
        if name.endswith("_per_s"):
            unit = "docs/s" if "docs" in name else "queries/s"
            out[name] = {"value": s["p50"], "unit": unit, "n": s["n"]}
            continue
        base = name[: -len("_s")]
        out[f"{base}_p50_s"] = {"value": s["p50"], "unit": "s", "n": s["n"]}
        if s["pct"] is not None and s["pct"] > 50:
            out[f"{base}_p{s['pct']:g}_s"] = {
                "value": s["value_at_pct"], "unit": "s", "n": s["n"],
            }
    return out


def main(argv: list[str]) -> int:
    if not (ROOT / "lucenenet_spark" / "__init__.py").is_file():
        print(f"perfbench: no lucenenet_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    args = parse_args(argv)

    import session
    from spans import Tracer, layer_metrics, per_layer_units
    from stats import per_probe
    from workloads import Run

    cpus = min(os.cpu_count() or 1, 4)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = OUT / "work" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    sampler = session.RssSampler()
    sampler.start()
    cpu_clock = session.TreeCpu(sampler)
    spark = None
    try:
        spark = session.start_spark(ROOT, work, cpus)
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        run = Run(spark, ROOT, work, args.seed, args.seconds, tracer, cpus, cpu_clock)
        setup_s = run.setup(T_START, args.workload)
        phases = {"setup": time.perf_counter() - T_START}
        getattr(run, args.workload)()
        peak_rss = sampler.stop()
        phases["workload"] = time.perf_counter() - T_START
        attempted, failed, msgs = run.check()
        storage = run.storage_bytes()
        text_bytes = run.text_bytes()
        tracer.finish()
        phases["check"] = time.perf_counter() - T_START
    except Exception:  # noqa: BLE001 - report any failure without a result
        traceback.print_exc()
        return 2
    finally:
        sampler.stop()
        if spark is not None:
            session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter() - T_START

    ops_rel = per_probe(run.ops_cpu, run.ops_window, sampler.probes)
    e2e = end_to_end(ops_rel, setup_s, peak_rss, sum(storage.values()), text_bytes)
    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "correct": failed == 0,
        "attempted": attempted, "failed": failed, "failures": msgs,
        "end_to_end": e2e,
        "detail": detail(run, attempted, failed, [d for _, d in sampler.probes]),
        "ops_s": run.ops, "ops_cpu_s": run.ops_cpu,
        "ops_cpu_per_probe": ops_rel, "probes": sampler.probes, "samples": run.samples, "storage_bytes": storage,
        "build_summaries": run.build_summaries, "phases_end_s": phases,
    }
    if args.trace:
        units = per_layer_units()
        layers = layer_metrics(
            tracer.spans, run.build_summaries, storage, tracer.overhead_s,
            statistics.median(run.ops), statistics.fmean(run.ops_cpu),
            statistics.fmean(ops_rel),
        )
        metrics = {n: {"value": layers[n], "unit": units[n]} for n in units}
        full["per_layer"] = layers
        full["spans"] = tracer.spans
    else:
        metrics = e2e
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(full, indent=1, default=str))

    for msg in msgs:
        print(f"WRONG {msg}")
    for name, m in {**e2e, **full["detail"], **(metrics if args.trace else {})}.items():
        n = m.get("n", len(run.ops))
        print(f"{name} {m['unit']} {m['value']:.6g} n={n}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
