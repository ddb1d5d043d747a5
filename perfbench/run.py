#!/usr/bin/env python3
"""The repo's benchmark: one named workload of registry queries over the
sf0.1 tables, closed loop with one client, in one local Spark JVM.

    python3 perfbench/run.py --workload sql_surface --seed 7 --seconds 25 --trace 0

A run builds the program from source if needed (perfbench/build.py), starts
a set-up probe JVM, then the measuring JVM: a cold pass, as many warm
passes as fill `--seconds` at the workload's reference pass time
(workloads.json `pass_s`), and an untimed check pass whose results are
digested and compared with perfbench/golden.json (derived from the DuckDB
oracle SQL by perfbench/golden.py). `--seed` shuffles the query order of
every pass and seeds the kernel microbench inputs.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1`, the per-layer metrics of a traced run (spans are written to
.bench_run/<workload>/run/trace.json). Workloads, their reasons and the
layer -> metric -> workload predictions are in perfbench/workloads.json.
All scratch space is under .bench_run/ in the checkout.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
from pathlib import Path  # noqa: E402

import build  # noqa: E402
import canon  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.1"
RUN_ROOT = ROOT / ".bench_run"
CPUS = len(os.sched_getaffinity(0))   # local[N] with N = nproc
# A fixed maximum heap (the JVM's default on a 16 GB box); initial heap and
# generation sizes are the JVM's own, so memory and GC figures are the
# program's rather than the flags'.
JVM_FLAGS = ["-Xmx4g", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 120
PROBE_TIMEOUT_S = 30

# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def sha256_file(p: Path) -> str:
    return hashlib.sha256(p.read_bytes()).hexdigest()


def jvm(cp, mode, run_dir: Path, name: str, timeout: float, **settings) -> dict:
    """Runs one harness JVM and returns its result file."""
    work = run_dir / name
    for d in ("land", "warehouse", "spark-local", "tmp", "check"):
        (work / d).mkdir(parents=True, exist_ok=True)
    props = dict(mode=mode, scratch=work, cpus=CPUS, sf_dir=DATA,
                 out=work / "result.json", check_dir=work / "check",
                 trace_file=work / "trace.json", **settings)
    (work / "bench.properties").write_text("".join(f"{k}={v}\n" for k, v in props.items()))
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.PerfBench", str(work / "bench.properties")]
    with open(work / "jvm.log", "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=timeout, cwd=work).returncode
        except subprocess.TimeoutExpired:
            raise BenchError(f"{mode} JVM exceeded {timeout}s; see {work / 'jvm.log'}")
    if rc != 0:
        raise BenchError(f"{mode} JVM exited {rc}; see {work / 'jvm.log'}")
    return json.loads((work / "result.json").read_text())


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def check_outputs(queries, work: Path, check_errors, golden):
    """Queries whose check-pass result is missing or differs from its
    golden digest, with the reason."""
    bad = dict(check_errors)
    con = canon.connect(DATA, work / "tmp")
    for q in queries:
        if q in bad:
            continue
        want = golden["queries"].get(q, {})
        if "digest" not in want:
            bad[q] = "no golden digest: " + want.get("oracle_error", "query not derived")
            continue
        got, rows = canon.digest_parquet(con, work / "check" / q)
        if got != want["digest"]:
            bad[q] = f"digest mismatch ({rows} rows, golden {want['rows']})"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {a.workload!r}")
    wl = spec["workloads"][a.workload]
    queries = wl["queries"]
    # `--seconds` of warm passes at the workload's reference pass time; the
    # count, not the clock, is fixed, so both sides of a comparison run
    # the same passes.
    warm_passes = max(2, round(a.seconds / wl["pass_s"]))
    golden = json.loads((HERE / "golden.json").read_text())
    inputs = {p.name: sha256_file(p) for p in sorted(DATA.glob("*.parquet"))}
    if inputs != golden["inputs"]:
        raise BenchError("input tables differ from the ones golden.json was derived from")

    cp = build.build()
    run_dir = RUN_ROOT / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    # set-up is timed twice: in a probe JVM that only builds the session,
    # and in the measuring JVM (a second probe would add 6 s to every run)
    probe = jvm(cp, "setup", run_dir, "setup", PROBE_TIMEOUT_S)
    res = jvm(cp, "run", run_dir, "run", JVM_TIMEOUT_S, queries=",".join(queries),
              seed=a.seed, warm_passes=warm_passes, trace=a.trace)
    setups = [probe["setup_s"], res["setup_s"]]

    bad = check_outputs(queries, run_dir / "run", res["check_errors"], golden)
    samples = res["samples"]
    attempted = len(samples) + len(queries)
    failed = sum(1 for s in samples if s["error"] or s["query"] in bad) + len(bad)
    kernels = dict(res["trace"]).get("kernels") if a.trace else None
    if kernels:
        attempted += kernels["checked"]
        failed += len(kernels["wrong"])

    untraced = {p["pass"] for p in res["passes"] if p["pass"] > 0 and not p["traced"]}
    timed = [s["ms"] for s in samples if s["pass"] in untraced]
    pass_ms = [p["ms"] for p in res["passes"] if p["pass"] in untraced]
    cold_ms = [p["ms"] for p in res["passes"] if p["pass"] == 0][0]

    detail = {}
    if a.trace:
        tr = dict(res["trace"])
        traced_ms = [p["ms"] for p in res["passes"] if p["traced"]]
        layer = {k: v for k, v in tr.items() if k not in ("kernels", "codegen", "spans")}
        layer.update(tr["codegen"])
        layer.update(kernels["metrics"])
        layer["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layer["trace.wall_s"] = statistics.median(traced_ms) / 1000
        layer["trace.overhead_s"] = layer["trace.wall_s"] - statistics.median(pass_ms) / 1000
        units = {m["name"]: m["unit"] for m in json.loads(
            (ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        detail.update(spans=tr["spans"], trace_file=str(run_dir / "run" / "trace.json"),
                      outside_parent_ms=tr["trace.outside_parent_ms"],
                      kernels_wrong=kernels["wrong"])
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_wall_s": (cold_ms / 1000, "s"),
            "wall_s": (statistics.median(pass_ms) / 1000, "s"),
            "query_p50_ms": (percentile(timed, 50), "ms"),
            "query_p90_ms": (percentile(timed, 90), "ms"),
            "ok_frac": (1 - failed / attempted, "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    provenance = {
        "src_sha256": build.tree_hash(build.sources()[0]),
        "workload": a.workload, "seed": a.seed, "cpus": CPUS,
        "sf_dir": str(DATA.relative_to(ROOT)), "inputs": inputs,
        "settings": {k: v.replace(str(ROOT), ".") for k, v in res["settings"].items()},
        "gates": res["gates"], "jvm_flags": JVM_FLAGS, "xmx_mb": res["xmx_mb"],
        "jvm": res["jvm"], "spark": res["spark"],
    }
    fixed = {k: v for k, v in provenance.items() if k not in ("src_sha256", "seed")}
    provenance["compare_key"] = hashlib.sha256(
        json.dumps(fixed, sort_keys=True).encode()).hexdigest()[:16]
    detail.update({
        "provenance": provenance, "setups_s": setups, "warm_passes": len(pass_ms),
        "warm_samples": len(timed), "p90_samples_beyond": len(timed) - math.ceil(0.9 * len(timed)),
        "landed_mb": res["landed_bytes"] / 2**20, "peak_rss_mb": res["peak_rss_mb"],
        "check_failures": bad,
        "run_errors": sorted({s["query"] for s in samples if s["error"]}),
    })
    (run_dir / "result.json").write_text(json.dumps(
        {"detail": detail, "metrics": metrics, "jvm": res}, indent=1))
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))



def _terminate(signum, frame):
    # Unwinding through subprocess.run kills and reaps the running JVM.
    raise BenchError(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except (BenchError, build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
