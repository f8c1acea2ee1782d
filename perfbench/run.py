"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Sets up the workload (timed as ``setup_s``), runs its operation in a
closed loop with one client for ``--seconds``, checks every output,
prints a report with the workload's own metrics and, as the last line
of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/metrics.py). Exits 1 when a check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, SPARK_SPANS  # noqa: E402

WORKLOADS = ("batch_pipeline", "online_serving")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=("full", "tiny"),
        default="full",
        help="input sizes; 'tiny' is for the benchmark's own smoke tests",
    )
    return ap.parse_args(argv)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def _children(spans) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for sid, parent, *_ in spans:
        if parent is not None:
            out.setdefault(parent, []).append(sid)
    return out


def call_counters(rec, folded, names, timed) -> dict[str, list[dict]]:
    """Span name -> event-log counters of each timed call: the jobs it
    launched itself and those of its nested spans."""
    children = _children(rec.spans)

    def total(sid):
        acc = dict(folded.get(f"{rec.run_id}:{sid}", {}))
        for c in children.get(sid, ()):
            for k, v in total(c).items():
                acc[k] = acc.get(k, 0.0) + v
        return acc

    return {n: [total(s[0]) for s in timed if s[2] == n] for n in names}


def spark_span_metrics(rec, timed, folded) -> dict[str, float]:
    """Median per call of each Spark span: build and exec wall time
    (its ``.build`` and ``.exec`` child spans) and its counters."""
    children = _children(rec.spans)
    by_id = {s[0]: s for s in rec.spans}
    counters = call_counters(rec, folded, SPARK_SPANS, timed)
    out = {}
    for name in SPARK_SPANS:
        per: dict[str, list[float]] = {}
        for s in timed:
            if s[2] != name:
                continue
            for c in children.get(s[0], ()):
                _, _, cname, t0, t1 = by_id[c]
                phase = cname[len(name) + 1 :]
                if phase in ("build", "exec"):
                    per.setdefault(f"{phase}_s", []).append(t1 - t0)
        for acc in counters[name]:
            for k in eventlog.COUNTERS:
                per.setdefault(k, []).append(acc.get(k, 0.0))
        for k, vals in per.items():
            out[f"{name}.{k}"] = harness.median(vals)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(harness.RUNS_DIR, run_id)
    harness.prepare_env(run_dir)
    try:
        return _run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id, run_dir) -> int:
    import featureform_spark  # noqa: F401  fail fast outside a checkout

    from perfbench.check import Checks

    mod = importlib.import_module(f"perfbench.workloads.{args.workload}")
    rec = harness.Recorder(bool(args.trace), run_id)
    wl = mod.Workload(rec, args.seed, mod.SIZES[args.size], run_dir)
    attempted = failed = 0
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_START
        setup_samples, rec.samples = rec.samples, {}
        timed_from = len(rec.spans)

        op_times: list[float] = []
        cpu0 = harness.vm_cpu_s()
        deadline = time.perf_counter() + args.seconds
        while True:
            t0 = time.perf_counter()
            attempted += 1
            try:
                wl.op()
            except Exception:
                failed += 1
                traceback.print_exc()
            op_times.append(time.perf_counter() - t0)
            wl.after_op()
            if time.perf_counter() >= deadline:
                break
        busy_s, steal_s = (b - a for a, b in zip(cpu0, harness.vm_cpu_s()))

        checks = Checks()
        wl.verify(checks)
        report = wl.report()
    finally:
        wl.close()
    rss = harness.own_hwm_mb() + wl.jvm_hwm_mb

    attempted += len(checks.results)
    failed += len(checks.failed)
    for name, _ok, detail in checks.failed:
        print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    p50_ms = harness.median(op_times) * 1e3
    ops_per_s = harness.block_rate(op_times, wl.BLOCK)
    tail_p, tail_v, n_ops = harness.tail(op_times)
    gmean_s, n_kind = harness.kind_gmean(rec.samples, wl.KIND_SPANS)
    lines = [
        ("setup_s", setup_s, "s", 1),
        ("op_p50_ms", p50_ms, "ms", n_ops),
        ("kind_gmean_ms", gmean_s * 1e3, "ms", n_kind),
        *([(f"op_p{tail_p:g}_ms", tail_v * 1e3, "ms", n_ops)] if tail_p > 50 else []),
        ("ops_per_s", ops_per_s, "1/s", n_ops),
        ("peak_rss_mb", rss, "MB", 1),
        ("jvm_hwm_mb", wl.jvm_hwm_mb, "MB", 1),
        ("loop_vm_busy_s", busy_s, "s", 1),
        ("loop_vm_steal_s", steal_s, "s", 1),
        ("error_rate", failed / attempted, "ratio", attempted),
        *report,
    ]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace}")
    print(f"# sizes {json.dumps(mod.SIZES[args.size], sort_keys=True)}")
    for name, value, unit, n in lines:
        print(f"{name:<40} {_fmt(value):>12} {unit:<6} n={n}")

    if args.trace:
        folded = eventlog.fold_dir(os.path.join(run_dir, "events"))
        timed = rec.spans[timed_from:]
        layer = dict.fromkeys(PER_LAYER, 0.0)
        for name, vals in setup_samples.items():
            if name + "_s" in PER_LAYER:
                layer[name + "_s"] = sum(vals)
        layer.update(spark_span_metrics(rec, timed, folded))
        layer.update(wl.layer_metrics(rec.samples, call_counters(rec, folded, wl.COUNTED_SPANS, timed)))
        layer["traced.setup_s"] = setup_s
        layer["traced.op_p50_ms"] = p50_ms
        layer["traced.kind_gmean_ms"] = gmean_s * 1e3
        layer["traced.ops_per_s"] = ops_per_s
        _write_spans(rec, args)
        print("# per-layer (traced run)")
        for name, v in layer.items():
            print(f"{name:<52} {_fmt(v):>12} {PER_LAYER[name]}")
        _print_self_times(rec, timed_from)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": p50_ms,
            "kind_gmean_ms": gmean_s * 1e3,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


def _write_spans(rec, args) -> None:
    """All spans of the run, written once, with their self times."""
    out_dir = os.path.join(harness.ROOT, "perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    selfs = harness.self_times(rec.spans)
    path = os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.jsonl")
    with open(path, "w") as fh:
        for sid, parent, name, t0, t1 in sorted(rec.spans, key=lambda s: s[3]):
            fh.write(
                json.dumps(
                    {
                        "run": rec.run_id,
                        "id": sid,
                        "parent": parent,
                        "name": name,
                        "start": t0,
                        "end": t1,
                        "self_s": selfs[sid],
                    }
                )
                + "\n"
            )
    print(f"# spans: {os.path.relpath(path, harness.ROOT)}")


def _print_self_times(rec, timed_from: int) -> None:
    selfs = harness.self_times(rec.spans)
    tot: dict[str, float] = {}
    for sid, _p, name, *_ in rec.spans[timed_from:]:
        tot[name] = tot.get(name, 0.0) + selfs[sid]
    print("# self time in the timed loop, by span (top 12)")
    for name, v in sorted(tot.items(), key=lambda kv: -kv[1])[:12]:
        print(f"{name:<52} {_fmt(v):>12} s")


if __name__ == "__main__":
    sys.exit(main())
