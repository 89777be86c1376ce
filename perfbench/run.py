"""Entity-resolution benchmark: end-to-end and per-layer numbers on this host.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_long_ckpt --seed 1 --seconds 20 --trace 0

``--trace 0`` times the workload's operations with tracing off and prints the
end-to-end metrics; ``--trace 1`` runs a warm untraced operation and a traced
one, reduces Spark's event log per layer and prints the per-layer metrics. Every
operation's output is checked (see ``checks.py``). The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the line before it a ``{"detail": ...}`` record (host, versions, samples,
problems). Inputs are generated from ``--seed`` before any timing and cached
under ``perfbench/.work/inputs``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(WORK, "cache.json")
SAMPLES = os.path.join(WORK, "samples.jsonl")

WORKLOADS = ("batch_long_ckpt", "stream_delta")
LAYERS = ("features", "blocking", "scoring", "clustering")
MB = 2**20


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="a few hundred conversations (schema tests)")
    return p.parse_args(argv)


def program_fingerprint() -> str:
    """Hash of the program's sources: cached digests never outlive a code change."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "blink_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def load_cache() -> dict:
    if not os.path.exists(CACHE):
        return {}
    with open(CACHE) as f:
        return json.load(f)


def save_cache(cache: dict) -> None:
    tmp = CACHE + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(tmp, CACHE)


def pooled_percentile(key: str, samples: list[float]) -> dict:
    """Append this run's samples and return the highest pooled percentile
    with at least ten samples beyond it (over every run recorded here)."""
    with open(SAMPLES, "a") as f:
        f.write(json.dumps({"key": key, "samples": samples}) + "\n")
    pooled = []
    with open(SAMPLES) as f:
        for line in f:
            rec = json.loads(line)
            if rec["key"] == key:
                pooled.extend(rec["samples"])
    pooled.sort()
    out = {"pooled_n": len(pooled)}
    for pct in (99.9, 99, 95, 90, 50):
        if len(pooled) * (1 - pct / 100) >= 10:
            out[f"pooled_p{pct:g}_s"] = pooled[min(len(pooled) - 1, int(len(pooled) * pct / 100))]
            break
    return out


def configure_env(run_dir: str, heap: int) -> None:
    """Keep every file the run writes inside the checkout; fit the host."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}g"
    # the Python workers import blink_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def shuffle_partitions(cores: int) -> int:
    """One shuffle partition per core: the program's default of 32 was sized
    for a 32-core host, and every extra task pays the Python-worker overhead."""
    return cores


def start_session(run_dir: str, cores: int, trace: bool):
    from blink_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions(cores),
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_values(tracer, reduced: dict, cores: int) -> dict[str, float]:
    """The metrics every compute layer reports, from the tracer and the log."""
    out = {}
    for layer in LAYERS:
        c = reduced.get(layer) or {}
        wall = tracer.wall_s.get(layer, 0.0)
        out.update(
            {
                f"{layer}.wall_s": wall,
                f"{layer}.jobs": c.get("jobs", 0),
                f"{layer}.tasks": c.get("tasks", 0),
                f"{layer}.cpu_s": c.get("cpu_s", 0.0),
                f"{layer}.core_util": c.get("run_s", 0.0) / (cores * wall) if wall else 0.0,
                f"{layer}.gc_s": c.get("gc_s", 0.0),
                f"{layer}.shuffle_read_mb": c.get("shuffle_read_bytes", 0) / MB,
                f"{layer}.shuffle_write_mb": c.get("shuffle_write_bytes", 0) / MB,
                f"{layer}.spill_mb": c.get("spill_bytes", 0) / MB,
                f"{layer}.py_sent_mb": c.get("py_sent_bytes", 0) / MB,
                f"{layer}.py_returned_mb": c.get("py_returned_bytes", 0) / MB,
                f"{layer}.rows_out": tracer.rows_out.get(layer, 0),
            }
        )
    return out


def as_metrics(values: dict[str, float], spec: list[dict]) -> dict[str, dict]:
    """Every metric ``BENCHMARK.json`` lists for this mode, with its unit.

    A layer the workload does not run (``checkpoint`` in a stream commit,
    ``incremental`` in a batch run) reports 0; any other missing value is a
    defect of the benchmark and raises.
    """
    layers_run = {name.split(".", 1)[0] for name in values}
    out = {}
    for m in spec:
        name = m["name"]
        if name not in values and name.split(".", 1)[0] in layers_run:
            raise KeyError(f"the run produced no value for {name}")
        out[name] = {"value": float(values.get(name, 0.0)), "unit": m["unit"]}
    return out


def run(args: argparse.Namespace, run_dir: str) -> dict:
    import checks
    import host
    import inputs
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores, heap = host.cores(), host.heap_gb()
    fingerprint = program_fingerprint()
    cls = workloads.BatchLongCkpt if args.workload == "batch_long_ckpt" else workloads.StreamDelta
    manifests = cls.prepare(args.seed, os.path.join(WORK, "inputs"), args.tiny)
    shape = manifests["main"]["shape"]

    configure_env(run_dir, heap)
    calib_s = host.calibrate()
    cache = load_cache()
    # samples pool over every seed of one workload, program and input size
    pool_key = f"{args.workload}|{fingerprint}|{shape['name']}-{shape['n_conversations']}"
    cache_key = f"{pool_key}|{args.seed}"

    problems: list[str] = []
    samples: list[float] = []
    turns = attempted = failed = 0
    f1_min = 1.0
    digests: set[str] = set()
    traced = None

    def check(rows, label: str) -> bool:
        """Gate one operation's assignment; batch runs must also agree."""
        nonlocal f1_min
        found = checks.check_assignment(rows, wl.expected_convs())
        f1_min = min(f1_min, checks.pairwise_f1(rows)["f1"])
        if cls is workloads.BatchLongCkpt:
            digests.add(checks.digest(rows))
            if len(digests) > 1:
                found.append("assignment digest differs from the run's first operation")
        problems.extend(f"{label}: {p}" for p in found)
        return not found

    t0 = time.perf_counter()
    spark = start_session(run_dir, cores, bool(args.trace))
    start_s = time.perf_counter() - t0
    try:
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        with host.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            t0 = time.perf_counter()
            wl = cls(spark, manifests, run_dir)
            problems.extend(f"warm-up: {p}" for p in wl.setup())
            warmup_s = time.perf_counter() - t0

            def more() -> bool:
                if not wl.has_next():
                    return False
                if args.trace:  # the last untraced operation is the traced one's baseline
                    return attempted < wl.cold_ops + 1
                return attempted == 0 or time.perf_counter() - t_start < args.seconds

            jiffies0 = host.cpu_jiffies()
            t_start = time.perf_counter()
            while more():
                attempted += 1
                try:
                    wall, op_turns, rows = wl.op()
                except Exception as e:  # an operation that raises counts as failed
                    failed += 1
                    problems.append(f"op {attempted}: raised {type(e).__name__}: {e}")
                    continue
                samples.append(wall)
                turns += op_turns
                failed += not check(rows, f"op {attempted}")
            steal = host.steal_pct(jiffies0, host.cpu_jiffies())

            if args.trace:
                tracer = workloads.Tracer(spark)
                attempted += 1
                t_wall, rows, extra, found = wl.traced(tracer)
                problems.extend(f"traced op: {p}" for p in found)
                failed += not check(rows, "traced op") or bool(found)
                traced = (tracer, t_wall, extra)

        if cls is workloads.StreamDelta:
            # batch ≡ incremental: the final state equals the batch clustering
            # of the same corpus, computed outside the timed loop (once per
            # program version, seed and number of commits)
            got = checks.digest(wl.final_rows())
            ref_key = f"{cache_key}|ref{wl.committed}"
            if ref_key not in cache:
                cache[ref_key] = checks.digest(wl.reference_rows())
            digests.add(got)
            if got != cache[ref_key]:
                problems.append(f"final stream state {got} != batch clustering {cache[ref_key]}")
                failed += 1
        elif digests:
            prev = cache.get(cache_key)
            if prev is None and not problems:
                cache[cache_key] = min(digests)  # only a clean run sets the reference
            elif prev is not None and digests != {prev}:
                problems.append(f"assignment digest {sorted(digests)} != earlier runs' {prev}")
                failed += 1
    finally:
        stop_session(spark)

    failed = min(failed, attempted)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "program": fingerprint,
        "host": {
            "cores": cores,
            "heap_gb": heap,
            "shuffle_partitions": shuffle_partitions(cores),
            "steal_pct": steal,
            "calib_s": calib_s,
            **versions,
        },
        "input": {
            k: {"turns": v["turns"], "conversations": v["conversations"]}
            for k, v in manifests["main"]["parts"].items()
        },
        "samples_s": samples,
        "failed_frac": failed / max(attempted, 1),
        "digests": sorted(digests),
        "problems": problems,
        "start_s": start_s,
        "warmup_s": warmup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    save_cache(cache)

    if not args.trace:
        detail.update(pooled_percentile(pool_key, samples))
        values = {
            "turns_per_s": turns / sum(samples) if samples else 0.0,
            "commit_p50_s": statistics.median(samples) if samples else 0.0,
            "setup_s": start_s + warmup_s,
            "pairwise_f1": f1_min,
            "ok_frac": 1 - failed / max(attempted, 1),
        }
    else:
        import eventlog

        tracer, t_wall, extra = traced
        reduced = eventlog.reduce_log(eventlog.find_log(os.path.join(run_dir, "eventlog")))
        n_pairs = extra["blocking.candidate_pairs"]
        scoring_py = (reduced.get("scoring") or {}).get("py_sent_bytes", 0)
        covered = sum(v for k, v in tracer.wall_s.items() if k != workloads.CENSUS)
        values = {
            **layer_values(tracer, reduced, cores),
            **extra,
            "scoring.py_bytes_per_pair": scoring_py / n_pairs if n_pairs else 0.0,
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.peak_rss_mb": rss.peak_mb,
            "host.steal_pct": steal,
            "host.calib_s": calib_s,
            "trace.overhead_frac": t_wall / samples[-1] - 1 if samples else 0.0,  # vs the warm one
            "trace.coverage": covered / t_wall,
        }
        detail["traced_wall_s"] = t_wall
        detail["unattributed"] = {k: v for k, v in reduced.items() if k not in tracer.wall_s}
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0 and not problems and f1_min >= checks.F1_MIN,
            "attempted": attempted,
            "failed": failed,
            "metrics": as_metrics(values, spec["per_layer" if args.trace else "end_to_end"]),
        },
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "blink_spark", "pipeline.py")):
        print(f"error: no blink_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": out["detail"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
