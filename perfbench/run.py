"""Layered benchmark of the sprintz_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``): ``ingest`` and ``serve``. One process with
one client thread, closed loop: the next request is sent only after the
previous one returned, against ``local[nproc]``. The run

1. generates the seed's inputs in a child process without Spark if they
   are not cached yet (``inputs.py``; not part of any metric), then
   starts Spark;
2. sets the workload up once, then sends its warm-up passes (both part
   of ``setup_s``);
3. sends whole passes of requests until ``--seconds`` have elapsed;
4. with ``--trace 1``, sends one pass with spans on (and the plain loop
   above is a single pass too);
5. checks the stored results against the sources, outside the timed
   region; every check and request counts in ``attempted``/``failed``;
6. with ``--trace 1``, probes every layer (``layers.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The lines before it repeat the
figures for people, and the full record (hardware, versions, spans) goes
to ``.bench_build/perfbench/out/``.

``--corrupt 1`` is the self-test of the checks: it flips one byte of a
stored blob before the correctness check, and the run must then report
failures.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def since_process_start() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload and the probes share within one run."""

    def __init__(self, spark, seed, paths, where, tracer, cores):
        self.spark = spark
        self.seed = seed
        self.work = paths["run"]
        self.inputs = where
        self.tracer = tracer
        self.cores = cores
        self.session_start_s = 0.0
        self.loop_layer_metrics: dict = {}
        # the stores the workload built, for the probes to read
        self.stores: dict = {}
        self._silver = None

    def silver_df(self):
        """The bucketed silver table of the pages input, written by the
        engine's ``ingest_silver`` on first use (in the set-up)."""
        import inputs
        from sprintz_spark.plans.jobs import ingest_silver

        if self._silver is None:
            table = ingest_silver(
                self.spark.read.parquet(self.inputs["pages"]),
                os.path.join(self.work, "silver"),
                n_parts=inputs.SILVER_PARTS,
                n_buckets=inputs.SILVER_BUCKETS,
            )
            self._silver = self.spark.table(table)
        return self._silver


def run_loop(wl, seconds: float, tracer, jobs=None) -> list[dict]:
    """Whole passes of requests, closed loop, until ``seconds`` elapsed
    (one pass when ``seconds`` is 0)."""
    recs: list[dict] = []
    deadline = time.perf_counter() + seconds
    n_pass = 0
    while True:
        for label, fn in wl.requests(n_pass):
            group = jobs.group() if jobs else contextlib.nullcontext()
            rows, ok = 0, True
            t0 = time.perf_counter()
            try:
                with tracer.span(label, request=True), group:
                    rows = fn()
            except Exception:  # a failed request is counted, not fatal
                ok = False
                traceback.print_exc()
            recs.append(
                {"pass": n_pass, "label": label, "s": time.perf_counter() - t0,
                 "rows": rows, "ok": ok}
            )
        n_pass += 1
        if time.perf_counter() >= deadline:
            return recs


def cpu_ticks() -> list[int]:
    """The machine's summed CPU ticks by state, from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings. A share well above zero marks a run on a
    contended host; its timings read slow."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def summarize(recs: list[dict]) -> dict:
    from spans import latency_summary

    lat = latency_summary([r["s"] for r in recs])
    counted = [r for r in recs if r["rows"]]
    busy = sum(r["s"] for r in counted)
    by_label: dict = {}
    by_pass: dict = {}
    for r in recs:
        by_label.setdefault(r["label"], []).append(r["s"])
        by_pass[r["pass"]] = by_pass.get(r["pass"], 0.0) + r["s"]
    return {
        "latency": lat,
        "throughput": sum(r["rows"] for r in counted) / busy if busy else None,
        "passes": len(by_pass),
        "pass_total_median_s": statistics.median(by_pass.values()),
        "label_median_s": {k: statistics.median(v) for k, v in by_label.items()},
        "failed": sum(not r["ok"] for r in recs),
    }


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "sprintz_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def hardware_record(root: str, args, cores: int, where: dict) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyarrow.parquet as pq
    import pyspark

    import inputs

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        res = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        commit = res.stdout.strip() or None
    with open("/proc/cpuinfo") as f:
        cpu = next((ln.split(":", 1)[1].strip() for ln in f
                    if ln.startswith("model name")), platform.processor())
    pages_rows = sum(pq.ParquetFile(f).metadata.num_rows
                     for f in glob.glob(os.path.join(where["pages"], "*.parquet")))
    return {
        "nproc": cores, "cpu": cpu, "master": f"local[{cores}]",
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "corrupt": args.corrupt,
        "input_rows": {"pages": pages_rows, **inputs.table_rows(where["tables"])},
        "versions": {"python": platform.python_version(), "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                     "pandas": pandas.__version__},
        "git_commit": commit, "source_digest": source_digest(root),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="sprintz_spark layered benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import env

    root = env.repo_root()
    if not os.path.isfile(os.path.join(root, "sprintz_spark", "__init__.py")):
        print(f"perfbench: no sprintz_spark package under {root}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    paths = env.isolate(root)

    import inputs
    from spans import JvmPools, MemSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    where = inputs.locate(paths["cache"], args.seed)
    cores = env.cores()
    # inputs are made in a child process without Spark, so this process
    # starts the same whether the cache held them or not
    t0 = time.perf_counter()
    if not where["ready"]:
        subprocess.run([sys.executable, inputs.__file__, paths["cache"], str(args.seed)],
                       check=True)
    prepare_s = time.perf_counter() - t0
    with MemSampler() as mem:
        spark = env.start_session(paths, f"perfbench-{args.workload}")
        try:
            env.warm_workers(spark)
            session_start_s = since_process_start() - prepare_s
            ctx = Context(spark, args.seed, paths, where, Tracer(), cores)
            ctx.session_start_s = session_start_s
            jvm = JvmPools(spark)
            jvm.reset()
            t_measured = time.perf_counter()
            record = run(args, ctx, WORKLOADS[args.workload])
            mem_parts = {"python_peak": mem.peak_since(t_measured), **jvm.measure()}
        finally:
            env.stop_session(spark)
    record["setup"]["prepare_s"] = prepare_s
    record["hardware"] = hardware_record(root, args, cores, where)
    if not args.trace:
        record["metrics"]["peak_mem_mb"] = {"value": sum(mem_parts.values()) / 2**20,
                                            "unit": "MB"}
    record["memory_mb"] = {k: v / 2**20 for k, v in mem_parts.items()}
    report(record, paths, args)
    return 0


def run(args, ctx, workload_cls) -> dict:
    from spans import JobCounter

    wl = workload_cls(ctx)
    # a traced run keeps the set-up's spans for the probes; the warm-up
    # passes pay first-call costs and are never traced
    ctx.tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    wl.setup()
    build_s = time.perf_counter() - t0
    ctx.tracer.enabled = False
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    setup_s = ctx.session_start_s + build_s + warmup_s

    # a traced run times one plain pass, to set against its traced pass
    ticks = cpu_ticks()
    recs = run_loop(wl, 0 if args.trace else args.seconds, ctx.tracer)
    plain = summarize(recs)
    plain["steal_share"] = steal_share(ticks, cpu_ticks())
    record = {"workload": wl.name, "setup": {
        "session_start_s": ctx.session_start_s, "build_s": build_s, "warmup_s": warmup_s,
        "setup_s": setup_s},
        "loop": plain, "requests": recs}
    attempted, failed = len(recs), plain["failed"]

    if args.trace:
        ctx.tracer.enabled = True
        jobs = JobCounter(ctx.spark)
        traced_recs = run_loop(wl, 0, ctx.tracer, jobs)
        traced = summarize(traced_recs)
        attempted += len(traced_recs)
        failed += traced["failed"]
        record["traced_loop"] = traced
        ctx.loop_layer_metrics = {
            **{f"spark.{k}": v for k, v in jobs.per_block().items()},
            "trace.overhead_s": traced["latency"]["p50"] - plain["latency"]["p50"],
        }
    else:
        lat = plain["latency"]
        record["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "request_p50_s": {"value": lat["p50"], "unit": "s"},
            "request_p90_s": {"value": lat["p90"], "unit": "s"},
            "throughput_rows_per_s": {"value": plain["throughput"], "unit": "rows/s"},
        }

    if args.corrupt:
        record["corrupted"] = wl.corrupt()
    try:
        checks = wl.check()
    except Exception:
        traceback.print_exc()
        checks = [("check", False, "raised")]
    if not args.trace:
        ratio = None
        if all(ok for _n, ok, _d in checks):
            ratio = wl.compression_ratio()
        record["metrics"]["compression_ratio"] = {"value": ratio, "unit": "ratio"}
    else:
        # the probes run after the checks: compaction and expiry rewrite
        # the workload's retention store
        from layers import PER_LAYER, Probe

        probe = Probe(ctx)
        try:
            values, record["probe"] = probe.run()
        except Exception:
            traceback.print_exc()
            values, record["probe"] = probe.m, {"error": "probe failed"}
            checks.append(("probe", False, "raised"))
        checks += probe.checks
        record["spans"] = ctx.tracer.spans
        record["self_times"] = ctx.tracer.self_times()
        record["metrics"] = {k: {"value": values[k], "unit": u}
                             for k, u in PER_LAYER.items() if k in values}
        missing = [k for k in PER_LAYER if k not in values]
        if missing:
            checks.append(("per-layer metrics", False, f"missing {missing}"))
    record["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    attempted += len(checks)
    failed += sum(not ok for _n, ok, _d in checks)
    record["attempted"], record["failed"] = attempted, failed
    return record


def report(record: dict, paths: dict, args) -> None:
    hw = record["hardware"]
    name = f"{args.workload}_s{args.seed}_t{args.trace}" + ("_corrupt" if args.corrupt else "")
    with open(os.path.join(paths["out"], name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    lines = [
        f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}"
        f"  nproc {hw['nproc']}  master {hw['master']}  commit {hw['git_commit']}"
        f"  source {hw['source_digest']}",
        f"  versions {hw['versions']}",
        f"  input rows {hw['input_rows']}",
    ]
    st = record["setup"]
    lines.append(
        f"  setup: session {st['session_start_s']:.3f} s + build {st['build_s']:.3f} s"
        f" + warm-up passes {st['warmup_s']:.3f} s "
        f"(input prepare {st['prepare_s']:.1f} s, not counted)"
    )
    for label, loop in (("loop", record["loop"]), ("traced loop", record.get("traced_loop"))):
        if loop is None:
            continue
        lat = loop["latency"]
        tail = (f"  p{lat['tail_pct']} {lat['tail']:.3f} s" if "tail" in lat else "")
        lines.append(
            f"  {label}: {lat['n']} requests in {loop['passes']} passes, p50 "
            f"{lat['p50']:.3f} s, p90 {lat['p90']:.3f} s{tail}, pass total median "
            f"{loop['pass_total_median_s']:.3f} s, failed {loop['failed']}"
            + (f", host steal {loop['steal_share']:.1%}" if "steal_share" in loop else "")
        )
        lines.append("    per request median s: " + ", ".join(
            f"{k} {v:.3f}" for k, v in loop["label_median_s"].items()))
    if "memory_mb" in record:
        lines.append("  memory MB: " + ", ".join(
            f"{k} {v:.1f}" for k, v in record["memory_mb"].items()))
    if "self_times" in record:
        lines.append("  span self time (s): " + ", ".join(
            f"{k} {v['self_s']:.3f}/{v['count']}" for k, v in sorted(record["self_times"].items())))
    probe = record.get("probe", {})
    if "decode_accounting" in probe:
        d = probe["decode_accounting"]
        lines.append(
            f"  decode accounting: wall {d['decode_wall_s']:.3f} s = scan {d['scan_s']:.3f}"
            f" + (feed floor - scan) {d['feed_minus_scan_s']:.3f} + kernel/cores "
            f"{d['kernel_div_cores_s']:.3f} + residual {d['residual_s']:.3f} "
            f"(residual share {d['residual_share']:.1%})"
        )
    for row in probe.get("kernel_table", []):
        lines.append(
            f"  kernel {row['codec']:>11} {row['dtype']:>3} {row['shape']:>5}: encode "
            f"{row['encode_pts_per_s']:.4g} pts/s, decode {row['decode_pts_per_s']:.4g} pts/s"
        )
    bad = [c for c in record["checks"] if not c["ok"]]
    lines.append(f"  checks: {len(record['checks']) - len(bad)}/{len(record['checks'])} ok"
                 + "".join(f"\n    FAILED {c['name']}: {c['detail']}" for c in bad))
    if "corrupted" in record:
        lines.append(f"  self-test: corrupted {record['corrupted']}")
    lines.append(f"  error_rate {record['failed']}/{record['attempted']} = "
                 f"{record['failed'] / record['attempted']:.4f}")
    for k, m in record["metrics"].items():
        lines.append(f"  {k:<40} {m['value']} {m['unit']}")
    print("\n".join(lines))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
