"""Frontier benchmark: one seeded, closed-loop workload per invocation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Prints a human-readable report (every metric by name, with its unit), then,
as the last line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instruments the
layers, replays them and reports the per-layer metrics, plus the tracing
overhead against the last untraced run of the same workload. Exits non-zero
when any correctness check or operation fails, and without printing a
result when the package under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(STATE, "out")

END_TO_END = {
    "setup_s": "s",
    "main_op_cpu_s": "s",
    "urls_per_cpu_s": "URLs/cpu-s",
}

PER_LAYER = {
    "plans.main_call_s": "s",
    "plans.main_self_s": "s",
    "plans.jobs_per_main_call": "count",
    "sources.write_checkpoint_s": "s",
    "sources.files_per_main_call": "count",
    "sources.bytes_written_per_url": "B/URL",
    "sources.state_bytes": "B",
    "sources.docs_gen_s": "s",
    "operators.frontier.politeness_budgets_s": "s",
    "operators.frontier.schedule_top_k_s": "s",
    "operators.frontier.robots_filter_s": "s",
    "operators.frontier.seen_filter_s": "s",
    "operators.frontier.update_blooms_s": "s",
    "operators.frontier.prefilter_pass_ratio": "ratio",
    "operators.cuckoo.seen_filter_cuckoo_s": "s",
    "operators.cuckoo.update_cuckoos_s": "s",
    "operators.cuckoo.delete_from_cuckoos_s": "s",
    "operators.cuckoo.prefilter_pass_ratio": "ratio",
    "operators.pattern_tree.build_trees_s": "s",
    "operators.pattern_tree.leaf_alternations_s": "s",
    "operators.rewrite.learn_rules_s": "s",
    "operators.rewrite.apply_rules_s": "s",
    "operators.classify.classify_regex_s": "s",
    "functions.links_per_s": "links/s",
    "functions.normalize_url_per_s": "URLs/s",
    "kernel.extract_links_per_s": "docs/s",
    "kernel.normalize_frontier_url_per_s": "URLs/s",
    "kernel.tree_build_s": "s",
    "kernel.rules_learn_s": "s",
}


def _contain(workdir: str) -> None:
    """Keep every file the run writes inside the checkout: temp files of
    this process, of the JVM and of Spark's block manager. Python workers
    find the package through PYTHONPATH."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts).strip()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":")
                      if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile

    tempfile.tempdir = tmp


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker) to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _untraced_path(workload: str) -> str:
    return os.path.join(OUT, f"{workload}-{_code_version()}-untraced-e2e.json")


def _overhead(workload: str, e2e: dict) -> dict:
    """Traced vs untraced end-to-end metrics, as a fraction of the last
    untraced run of the same workload and code version in this checkout."""
    path = _untraced_path(workload)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)
    return {k: e2e[k] / base[k] - 1.0 for k in e2e if base.get(k)}


def _code_version() -> str:
    """Hash of the package's and the benchmark's sources, so that runs of
    different code or inputs never share a reference."""
    import hashlib

    h = hashlib.sha1()
    for top in ("url_pattern_algorithm_spark", "perfbench"):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "tests")
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(d, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def _same_digest(key: str, digest: str) -> list[str]:
    """Learned outputs are identical across runs of one seed and one code
    version: compare with the digest an earlier such run left in this
    checkout."""
    path = os.path.join(OUT, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if seen.setdefault(key, digest) != digest:
        return [f"output digest {digest} differs from {seen[key]}, which an "
                "earlier run of the same seed produced"]
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return []


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' exists for the benchmark's "
                         "own tests")
    args = ap.parse_args(argv)

    workdir = os.path.join(
        STATE, "work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    _contain(workdir)
    sys.path.insert(0, ROOT)
    try:
        import url_pattern_algorithm_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from perfbench.trace import Sampler

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.size, workdir)
    t0 = time.perf_counter()
    error = None
    mem = Sampler()
    try:
        with mem:
            WORKLOADS[args.workload](run)
    except Exception:
        error = traceback.format_exc()
        run.failures.append("operation raised: " + error.strip().splitlines()[-1])
    finally:
        try:
            _stop_spark()
        except Exception:
            traceback.print_exc()
        shutil.rmtree(workdir, ignore_errors=True)
    wall = time.perf_counter() - t0
    run.report["peak_rss_mb"] = (mem.peak_mb, "MB")
    run.report["peak_pss_mb"] = (mem.peak_pss_mb, "MB")

    wanted = PER_LAYER if args.trace else END_TO_END
    values = run.layer if args.trace else run.e2e
    if error is None:
        missing = sorted(set(wanted) - set(values))
        if missing:
            run.failures.append(f"metrics not produced: {missing}")
        from perfbench.checks import finite_positive

        run.check(finite_positive(run.e2e))

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if run.digest:
        run.check(_same_digest(
            f"{_code_version()} {tag} "
            f"{json.dumps(run.sizes, sort_keys=True)}", run.digest))
    overhead = {}
    if args.trace:
        overhead = _overhead(args.workload, run.e2e)
        run.tracer.write(os.path.join(OUT, f"{tag}-spans.jsonl"))
        with open(os.path.join(OUT, f"{tag}-layers.json"), "w") as f:
            json.dump({"layer": run.layer, "report": run.report,
                       "e2e_traced": run.e2e, "overhead": overhead}, f,
                      indent=1, sort_keys=True)
    elif error is None and not run.failures:
        with open(_untraced_path(args.workload), "w") as f:
            json.dump(run.e2e, f)

    print(f"# workload {args.workload} seed {args.seed} size {args.size} "
          f"trace {args.trace}: {wall:.1f} s wall")
    for name, unit in END_TO_END.items():
        if name in run.e2e:
            print(f"# e2e {name} = {run.e2e[name]:.6g} {unit}")
    for name, (value, unit) in sorted(run.report.items()):
        print(f"# metric {name} = {value:.6g} {unit}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            if name in run.layer:
                print(f"# layer {name} = {run.layer[name]:.6g} {unit}")
        for name, frac in sorted(overhead.items()):
            print(f"# tracing overhead {name} = {100 * frac:+.1f} %")
        if not overhead:
            print("# tracing overhead: no untraced run of this workload and "
                  "code in this checkout to compare with")
    if run.digest:
        print(f"# output digest {run.digest}")
    failed = len(run.failures)
    attempted = max(run.attempted, failed, 1)
    print(f"# failed_frac = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted})")
    for f in run.failures:
        print(f"# FAILED: {f}")
    if error:
        print(error, file=sys.stderr)

    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": wanted[k]}
                    for k in wanted if k in values},
    }
    print(json.dumps(result), flush=True)
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
