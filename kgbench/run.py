"""Closed-loop benchmark of ``snorkel_spark.plans.pipeline.run_kg_pipeline``.

One run = one workload and one seed, in a fresh process:

1. generate ``documents.parquet`` from ``--seed`` (``gen.py``);
2. ``session.get_spark(cores=nproc)`` — timed as ``setup_s``;
3. back-to-back pipeline passes, each into a fresh ``Catalog``: the
   first is the cold pass, then a fixed number of warm passes, about
   ``--seconds`` of them at a nominal 10 s a pass (at least one; the
   count does not depend on how fast the host is, so every run measures
   the same warm-up state).  Each pass is timed by wall clock and by the
   CPU time of the whole process tree (driver, JVM, Python workers):
   ``cold_batch_cpu_s`` and ``batch_cpu_s`` (the warm passes' median).
   On a shared 4-vCPU host one pass's wall moves ±30 % from run to run
   with the neighbours' load, its CPU time about a third as much while
   the host's speed holds, so the CPU times are the bounded metrics and
   the walls are reported per layer by the traced run (and on stderr);
4. correctness checks of every pass (``checks.py``), outside the timed
   region, while the oracle's row counts are computed (DuckDB, in a
   child process).

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of one traced warm
pass (``tracing.py``), and the span list is written under
``.kgbench_out/``.  Everything the run writes lives under the checkout.

    python3 kgbench/run.py --workload batch_small --seed 1 --seconds 10 --trace 0

``--collect DIR`` runs every workload over several seeds into DIR;
``--compare A B`` checks two such result sets against the bounds in
``BENCHMARK.json`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
# no warm pass starts after this many seconds of the run: with set-up,
# checks and clean-up a run then ends well within 180 s
DEADLINE_S = 100
# a warm pass of either workload on 4 cores; --seconds ÷ this is the
# run's fixed number of warm passes
NOMINAL_PASS_S = 10
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` (inside the checkout)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    # a 2 GB driver heap holds every workload; a bounded heap keeps the
    # JVM's footprint from drifting with GC timing (get_spark defaults to 8g)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # no /tmp/hsperfdata_* from the launcher or driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    sys.path.insert(0, ROOT)
    import snorkel_spark  # noqa: F401  (fails fast outside a full checkout)

    import checks
    import gen
    import procs
    import tracing as tr

    w = gen.WORKLOADS[workload]
    work = os.path.join(ROOT, ".kgbench_work", f"{workload}-{seed}-{os.getpid()}")
    _isolate(work)
    in_dir = os.path.join(work, "input")
    gen.write(w, seed, in_dir)

    from snorkel_spark.plans.pipeline import run_kg_pipeline
    from snorkel_spark.session import get_spark
    from snorkel_spark.storage import Catalog

    captured: dict = {}
    tracer = tr.Tracer() if trace else None
    tag = ["p0"]
    tr.install(captured, tracer, tag)
    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog")
    extra = tr.event_log_conf(log_dir) if trace else None

    walls, cpus, passes = [], [], []  # passes: (catalog, info, O, error)
    sampler = procs.TreeSampler()
    spark = oracle = None
    try:
        with sampler:
            t0 = time.perf_counter()
            spark = get_spark(app_name="kgbench", cores=cores, extra=extra)
            setup_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            # pass 0 is cold; a traced run adds one traced warm pass, an
            # untraced run a fixed number of warm passes; none starts late
            # enough to push the run past its time limit
            n_warm = 1 if trace else max(1, round(seconds / NOMINAL_PASS_S))
            while len(walls) < 1 + n_warm and (
                    len(walls) < 2 or time.perf_counter() - T_START < DEADLINE_S):
                i = len(walls)
                tag[0] = f"p{i}"
                if tracer:
                    tracer.on = i == 1
                catalog = Catalog(os.path.join(work, f"catalog{i}"))
                captured.pop("O", None)
                c, t = procs.tree_cpu_s() - sampler.cpu_s, time.perf_counter()
                try:
                    info = run_kg_pipeline(spark, in_dir, catalog, n_salts=w.n_salts)
                    err = None
                except Exception as e:  # a pass that raises counts as failed
                    info, err = None, f"{type(e).__name__}: {e}"
                walls.append(time.perf_counter() - t)
                cpus.append(procs.tree_cpu_s() - sampler.cpu_s - c)
                passes.append((catalog, info, captured.get("O") if info else None, err))
                if err:
                    break
            if tracer:
                tracer.on = False

        # checks, outside the timed region; the DuckDB oracle runs alongside
        t_checks = time.perf_counter()
        oracle = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--oracle-counts", in_dir],
            stdout=subprocess.PIPE, text=True)
        failures, scores = {}, []
        for i, (catalog, info, _, err) in enumerate(passes):
            if err:
                failures[i] = [err]
            elif i == 0:
                score_failures, sc = checks.check_scores(
                    spark, catalog, info, *checks.gold(spark, in_dir))
                failures[i] = list(score_failures)
                scores.append(sc)
            else:
                # the cold pass's rows, hence its scores and their failures
                failures[i] = (checks.same_outputs(catalog, info, *passes[0][:2])
                               or list(score_failures))
                scores.append(scores[0])
        expected = json.loads(oracle.communicate(timeout=120)[0].splitlines()[-1])
        for i, (catalog, info, o, err) in enumerate(passes):
            if not err:
                failures[i] += checks.check_exact(catalog, info, expected, o)
        t_stop = time.perf_counter()
        procs.stop_spark(spark)
        spark = None
        print(f"phases: start→setup {t0 - T_START:.1f}s setup {setup_s:.1f}s passes "
              f"{' '.join(f'{x:.2f}' for x in walls)}s (cpu {' '.join(f'{x:.1f}' for x in cpus)}s) checks {t_stop - t_checks:.1f}s stop "
              f"{time.perf_counter() - t_stop:.1f}s", file=sys.stderr)
        failed = sum(bool(f) for f in failures.values())
        for i, fs in failures.items():
            for f in fs:
                print(f"CHECK FAILED pass {i}: {f}", file=sys.stderr)
        result = {"correct": failed == 0, "attempted": len(walls), "failed": failed}
        if trace:
            groups = tr.fold_event_log(log_dir)
            m = tr.per_layer(tracer, groups, "p1", cores, walls[1])
            m["trace.cold_batch_s"] = walls[0]
            m["trace.docs_per_s"] = w.n_docs / walls[1]
            out_dir = os.path.join(ROOT, ".kgbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{workload}-{seed}.json"))
            for k in sorted(m):
                print(f"{k:42s} {m[k]:12.4f} {tr.unit_of(k)}", file=sys.stderr)
            result["metrics"] = {k: {"value": v, "unit": tr.unit_of(k)} for k, v in m.items()}
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_batch_cpu_s": (cpus[0], "s"),
                "batch_cpu_s": (statistics.median(cpus[1:] or cpus), "s"),
                "peak_pss_mb": (sampler.peak_bytes / 2**20, "MB"),
                "marginal_f1": (min((s["marginal_f1"] for s in scores), default=0.0), "ratio"),
                "triple_f1": (min((s["triple_f1"] for s in scores), default=0.0), "ratio"),
                "ok_ratio": (1 - failed / len(walls), "ratio"),
            }
            result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result
    finally:
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
            oracle.wait()
        if spark is not None:
            procs.stop_spark(spark)
        procs.reap(sampler.seen)
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- collect / compare
def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def collect(out_dir: str, seeds: list[int], workloads: list[str], trace: int) -> None:
    """Run the benchmark once per (workload, seed) in a fresh process,
    saving each result line as ``out_dir/<workload>/seed<n>.json``."""
    spec = _spec()
    for wl in workloads:
        os.makedirs(os.path.join(out_dir, wl), exist_ok=True)
        for s in seeds:
            cmd = spec["command"] + ["--workload", wl, "--seed", str(s),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
            t = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            line = p.stdout.strip().splitlines()[-1] if p.returncode == 0 else ""
            print(f"{wl} seed {s}: rc={p.returncode} {time.time() - t:.1f}s {line}", flush=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-4000:])
                continue
            with open(os.path.join(out_dir, wl, f"seed{s}.json"), "w") as f:
                f.write(line + "\n")


def _load(result_dir: str) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for wl in sorted(os.listdir(result_dir)):
        d = os.path.join(result_dir, wl)
        for fn in sorted(os.listdir(d)):
            with open(os.path.join(d, fn)) as f:
                res = json.loads(f.read().strip().splitlines()[-1])
            for k, v in res["metrics"].items():
                out.setdefault(wl, {}).setdefault(k, []).append(v["value"])
    return out


def spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def compare(a_dir: str, b_dir: str) -> int:
    """Both result sets must be steady (spread within each bound,
    ``setup_s`` exempt) and B's median no worse than A's by more than
    the bound.  Prints one row per (workload, metric); exit 1 on a
    violation."""
    spec = _spec()
    a, b = _load(a_dir), _load(b_dir)
    bad = 0
    print(f"{'workload':14s} {'metric':14s} {'median A':>10s} {'median B':>10s} "
          f"{'spread A':>9s} {'spread B':>9s} {'worse':>7s} {'bound':>6s}")
    for wl in sorted(set(a) & set(b)):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va, vb = a[wl].get(name), b[wl].get(name)
            if not va or not vb or len(va) < 2 or len(vb) < 2:
                print(f"{wl:14s} {name:14s} missing")
                bad += 1
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            sa, sb = spread(va), spread(vb)
            sign = 1 if m["better"] == "lower" else -1
            worse = sign * (mb - ma) / ma if ma else 0.0
            ok = worse <= bound and (name == "setup_s" or (sa <= bound and sb <= bound))
            bad += not ok
            print(f"{wl:14s} {name:14s} {ma:10.4f} {mb:10.4f} {sa:9.4f} {sb:9.4f} "
                  f"{worse:7.4f} {bound:6.3f} {'' if ok else 'FAIL'}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="snorkel_spark KG-pipeline benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--collect", metavar="DIR")
    ap.add_argument("--seeds", default="1-10", help="for --collect: a-b or a,b,c")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    ap.add_argument("--oracle-counts", metavar="DIR", help=argparse.SUPPRESS)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    if a.oracle_counts:
        sys.path.insert(0, ROOT)
        import checks

        print(json.dumps(checks.oracle_counts(a.oracle_counts)))
        return 0
    if a.compare:
        return compare(*a.compare)
    if a.collect:
        lo, _, hi = a.seeds.partition("-")
        seeds = list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in a.seeds.split(",")]
        wls = [a.workload] if a.workload else [w["name"] for w in _spec()["workloads"]]
        collect(a.collect, seeds, wls, a.trace)
        return 0
    import gen

    if a.workload not in gen.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(gen.WORKLOADS)}")
    print(json.dumps(run(a.workload, a.seed, a.seconds, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
