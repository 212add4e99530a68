"""sparkcrawler benchmark: one workload per invocation, one JSON line out.

Usage (from the repository root)::

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans, a py4j call counter and Spark's event log enabled
and prints the per-layer metrics instead. The last stdout line is the
result object ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it are a human-readable table. See ``perfbench/README.md``.

All state lives under ``.perfbench_work/`` in the current directory:
the run's Spark scratch, corpora and crawl output in ``run-<pid>/``
(removed at exit), digests and one-off inputs in ``cache/``, and the
full result of the last run per workload and mode in ``last/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "query_mix")


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Point every scratch location the engine, Spark and the Python
    workers use at ``work`` (the benchmark reads and writes only inside
    its checkout), and make ``sparkcrawler`` importable in the driver
    and in Spark's Python workers without an installed package."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARKCRAWLER_SCRATCH"] = work
    # every JVM Spark starts (its launcher too) would otherwise keep a
    # perf-data file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}")))
    paths = [REPO] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import tempfile

    tempfile.tempdir = None


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _env_facts(work: str) -> dict:
    """Per-run environment facts recorded next to every result."""
    facts = {"nproc": os.cpu_count() or 1, "loadavg_1m": os.getloadavg()[0]}
    try:
        st = os.statvfs("/dev/shm")
        free = st.f_bavail * st.f_frsize
        facts["shm_free_gib"] = round(free / (1 << 30), 2)
        # session._scratch_dir() engages RAM scratch only at >= 16 GiB
        # free; the check is repeated here without creating its probe dir
        facts["ram_scratch_gate"] = free >= (16 << 30)
    except OSError:
        facts["shm_free_gib"] = 0.0
        facts["ram_scratch_gate"] = False
    facts["scratch_dir"] = os.path.relpath(work)
    return facts


def main(argv=None) -> int:
    args = _parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(REPO, "sparkcrawler")):
        print("sparkcrawler/ not found next to perfbench/", file=sys.stderr)
        return 2
    root = os.path.abspath(".perfbench_work")
    work = os.path.join(root, f"run-{os.getpid()}")
    cache = os.path.join(root, "cache")
    _prepare_env(work)
    os.makedirs(cache, exist_ok=True)
    facts = _env_facts(work)
    cpu0 = _cpu_times()
    try:
        from perfbench import workloads
    except ImportError as exc:  # missing engine or Spark: no result line
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    try:
        res = workloads.run(
            args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, cache=cache,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # share of the box's CPU time the hypervisor stole during the run
    delta = [b - a for a, b in zip(cpu0, _cpu_times())]
    facts["cpu_steal_share"] = round(delta[7] / max(sum(delta), 1), 4)
    res["env"] = facts
    _print_table(args, res)
    _save(root, args, res)
    metrics = res["layer"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


def _print_table(args, res) -> None:
    print(f"# workload={args.workload} seed={args.seed} "
          f"trace={args.trace} env={json.dumps(res['env'])}")
    for name, m in res["named"].items():
        print(f"  {name:<28} {m['value']:>14.4f} {m['unit']}")
    if args.trace:
        for name, m in res["layer_seconds"].items():
            print(f"  {name:<28} {m['value']:>14.4f} {m['unit']}")
    if res["failures"]:
        print("# check failures: " + "; ".join(res["failures"][:10]))


def _save(root, args, res) -> None:
    """Full result (named metrics, per-round detail, env facts) next to
    the work dir, one file per workload and mode, for the README's
    tables. Kept out of the stdout line so that stays small."""
    out = os.path.join(root, "last")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}.trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump({"seed": args.seed, "seconds": args.seconds, **res},
                  fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
