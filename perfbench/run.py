#!/usr/bin/env python3
"""graft benchmark: builds graft and the harness from source (build.py),
makes the inputs, runs one workload in one JVM and prints one JSON result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all ...      # every workload in turn
    python3 perfbench/run.py --record-fingerprints   # refresh fingerprints.json

Workloads (BENCHMARK.json says why each exists): gedixr_cli, gedixr_core,
training_ops. The query workloads read fixed synthetic catalogs
(gen_tables.py); the seed permutes their operation order per pass.
gedixr_cli gets fresh seeded granules (gen_granules.py) every run.

Build outputs, inputs, logs and traces live under $CARGO_TARGET_DIR
(default .bench_build) at the repository root; traced runs leave their
spans and per-operation breakdown in traces/. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`; the line before it holds
the run's context (nproc, heap, Spark version, input sizes, failures).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from build import build, digest, fail, spark_jars  # noqa: E402

CORE = ("q_extract_vars q_quality_filter q_make_point q_bbox_subset "
        "q_pip_subset q_multi_aoi q_zonal_stats q_utm_transform q_merge_l2ab "
        "q_rasterize_grid q_dedup_shots q_hex_bin").split()
ITERATIVE = ["q_dbscan"]
KERNELS = "q_gopher_rules q_clf_filter q_entropy q_minhash_pairs".split()
CLI_OPS = ["pipeline_l2a", "pipeline_l2b", "merge", "rasterize", "subset_aoi"]

# Query workloads list (query, catalog scale factor) pairs.
WORKLOADS = {
    "gedixr_cli": {"ops": CLI_OPS},
    "queries": {"queries": [(q, 0.1) for q in CORE] + [(q, 0.01) for q in ITERATIVE]
                + [(q, 0.1) for q in KERNELS]},
}
GRANULE_SHOTS = 600
# fixed young generation: heap growth, and so peak RSS, then follows the
# data the program keeps, not the collector's adaptive sizing
JVM_MEMORY = ["-Xmx4g", "-Xmn384m"]
RUN_DEADLINE_S = 170.0
JDK17_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
START = time.time()


def tables(bdir, sf):
    """The fixed catalog at scale `sf`, generated once per generator version."""
    import gen_tables
    d = bdir / f"tables-sf{sf}-{digest([HERE / 'gen_tables.py'])}"
    if not (d / ".ok").exists():
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(str(d), sf)
        (d / ".ok").write_text("ok\n")
    return d


def table_sizes(d):
    import pyarrow.parquet as pq
    return {p.stem: {"rows": pq.ParquetFile(p).metadata.num_rows,
                     "bytes": p.stat().st_size} for p in sorted(d.glob("*.parquet"))}


def harness(classes, jars, work, args, log, deadline):
    """Run the harness JVM to completion, or kill it at the deadline."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", *JVM_MEMORY, "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main"]
           + [str(x) for kv in args.items() for x in (f"--{kv[0]}", kv[1])])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded the run deadline; log: {log}")


def run_workload(name, seed, seconds, trace, bdir, classes, jars, deadline):
    wl = WORKLOADS[name]
    cores = len(os.sched_getaffinity(0))
    work = bdir / "runs" / f"{name}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    for sub in ("traces", "logs"):
        (bdir / sub).mkdir(exist_ok=True)
    try:
        args = {"workload": name, "seed": seed, "seconds": seconds,
                "trace": trace, "cores": cores,
                "spark-local": work / "spark-local", "out": work / "result.json",
                "trace-out": bdir / "traces" / f"{name}-seed{seed}.json"}
        if name == "gedixr_cli":
            import gen_granules
            spec = gen_granules.generate(str(work / "cli"), seed,
                                         max(16, 4 * cores), GRANULE_SHOTS)
            (work / "cli-spec.json").write_text(json.dumps(spec))
            args["cli-spec"] = work / "cli-spec.json"
            inputs = {k: spec[k] for k in ("granule_count", "granule_bytes", "shots")}
        else:
            fps = json.loads((HERE / "fingerprints.json").read_text())
            dirs = {sf: tables(bdir, sf) for sf in {sf for _, sf in wl["queries"]}}
            args["ops"] = ",".join(f"{q}={dirs[sf]}" for q, sf in wl["queries"])
            (work / "expected.json").write_text(json.dumps(
                {q: fps[f"sf{sf}"]["fingerprints"][q] for q, sf in wl["queries"]}))
            args["expected"] = work / "expected.json"
            inputs = {f"sf{sf}": table_sizes(d) for sf, d in dirs.items()}
        log = bdir / "logs" / f"{name}-seed{seed}-trace{trace}.log"
        rc = harness(classes, jars, work, args, log, deadline)
        res_path = work / "result.json"
        if not res_path.exists():
            fail(f"harness exited {rc} without a result; log: {log}")
        res = json.loads(res_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["context"]["input"] = inputs
    print(json.dumps({"context": res["context"], "failures": res["failures"]}))
    return {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}


def record_fingerprints(bdir, classes, jars):
    """Fingerprint every query-workload result on the fixed catalogs and
    store them, with the DuckDB oracle SQL, in fingerprints.json."""
    out = {}
    scales = {sf for w in WORKLOADS.values() for _, sf in w.get("queries", [])}
    for sf in sorted(scales):
        ops = sorted({q for w in WORKLOADS.values()
                      for q, s in w.get("queries", []) if s == sf})
        work = bdir / "runs" / f"record-{sf}-{os.getpid()}"
        work.mkdir(parents=True)
        try:
            rec_path = work / "record.json"
            d = tables(bdir, sf)
            rc = harness(classes, jars, work, {
                "workload": "record", "seed": 0, "seconds": 0, "trace": 0,
                "cores": len(os.sched_getaffinity(0)),
                "spark-local": work / "spark-local",
                "ops": ",".join(f"{q}={d}" for q in ops), "record": rec_path},
                bdir / "record.log", time.time() + 1800)
            if rc != 0 or not rec_path.exists():
                fail(f"recording failed; log: {bdir / 'record.log'}")
            out[f"sf{sf}"] = json.loads(rec_path.read_text())
        finally:
            shutil.rmtree(work, ignore_errors=True)
    (HERE / "fingerprints.json").write_text(
        json.dumps(out, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no graft sources to build")
    bdir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    bdir.mkdir(parents=True, exist_ok=True)
    jars = spark_jars()
    classes = build(bdir, jars)
    if a.record_fingerprints:
        record_fingerprints(bdir, classes, jars)
        return
    if a.workload is None:
        fail("--workload is required")
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    for i, n in enumerate(names):
        deadline = (START if i == 0 else time.time()) + RUN_DEADLINE_S
        print(json.dumps(run_workload(n, a.seed, a.seconds, a.trace,
                                      bdir, classes, jars, deadline)))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
