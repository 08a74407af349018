"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (which also writes its spans to
``.perfbench_traces/<workload>-seed<n>.jsonl`` and prints the end-to-end
numbers it measured under tracing, so the two runs give the tracing
overhead). Exits non-zero without a result when the engine cannot be
imported or the workload crashes.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

from common import Engine, RunContext, Tracer, emit, prepare_environment, remove  # noqa: E402


def load_spec() -> dict:
    """``BENCHMARK.json``: the workloads and every metric's name and unit.
    NOTES.md maps each per-layer metric to the end-to-end one it should
    move."""
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def parse_args(argv: list[str] | None, spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    root = Path.cwd()
    sys.path.insert(0, str(root))
    try:
        importlib.import_module("iot_data_pipeline_spark.pipeline")
        importlib.import_module("tests.oracle_harness")
    except ImportError as e:
        print(f"perfbench: run from the root of a checkout of the engine: {e}", file=sys.stderr)
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    ctx = RunContext(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work, t_process_start=T_PROCESS_START,
        tracer=Tracer(bool(args.trace)),
    )
    engine = Engine(work)
    try:
        prepare_environment(work)
        workload = importlib.import_module(args.workload)
        e2e, layer, notes = workload.run(ctx, engine)
    finally:
        t_close = time.time()
        engine.close()
        remove(work)
    ctx.phases["close"] = time.time() - t_close
    if ctx.trace:
        ctx.tracer.write(root / ".perfbench_traces" / f"{args.workload}-seed{args.seed}.jsonl")
        notes.append("end-to-end under tracing: "
                     + " ".join(f"{k}={v:.6g}" for k, v in e2e.items()))
    kind, values = ("per_layer", layer) if ctx.trace else ("end_to_end", e2e)
    unknown = set(values) - {m["name"] for m in spec[kind]}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json {kind}: {sorted(unknown)}")
    # A layer the workload never calls reports 0.
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in spec[kind]}
    emit(ctx, metrics, notes)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
