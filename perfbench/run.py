#!/usr/bin/env python3
"""The repo benchmark: the CID-10 ETL run the way users run it.

Each operation is one `graft.etl.CidEtl` CLI run in a fresh JVM, CSVs in
to the UTF-8-BOM CSV out, on `local[N]` with N = the cores this process
may use. One client, closed loop: the next run starts when the previous
one has exited, until the next would overrun `--seconds` (at least one).
Runs the host disturbed (see STEAL_MAX) are checked but not timed.
Every output is checked, untimed, against a DuckDB replay of the
pipeline over the same generated inputs.

With `--trace 1` the run is one untraced CLI run plus one run of the
traced harness (`perfbench.TracedEtl`), and the metrics are the per-layer
ones, with the tracing overhead against the untraced run.

Usage: python3 perfbench/run.py --workload etl_official --seed 1
           --seconds 30 --trace 0
The last line of stdout is the result as one JSON object.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen_cid  # noqa: E402
import replay  # noqa: E402
import trace  # noqa: E402

WORK = build.BUILD / "work"
# Scaled side of etl_merge_scaled: subcategories and DATASUS rows.
MERGE_ROWS = 100_000
TIMEOUT_S = 170
# A CLI run during which the hypervisor gave more than this share of the
# machine's CPU time to other guests is checked but not timed: on a shared
# host such bursts slow a run by up to 2x. While every run so far is one,
# another starts, until twice --seconds have passed.
STEAL_MAX = 0.02
# What spark-submit would pass on JDK 17 (see build.sbt's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

UNITS = {"setup_s": "s", "cli_wall_s": "s", "etl_wall_s": "s",
         "rows_per_s": "rows/s", "peak_rss_mb": "MiB"}


def official_inputs(seed, d):
    n = gen_cid.gen_official(seed, d)
    return ["--datasus_dir", str(d)], n, lambda: replay.load_official(d)


def merge_inputs(seed, d):
    paths, n = gen_cid.gen_combined(seed, d, MERGE_ROWS, MERGE_ROWS)
    args = [a for k in ("datasus", "chapters", "blocks", "categories",
                        "subcategories") for a in ("--" + k, paths[k])]
    return args, n, lambda: replay.load_combined(paths)


# Workload -> input maker: (CLI arguments, input rows, replay loader).
WORKLOADS = {"etl_official": official_inputs, "etl_merge_scaled": merge_inputs}


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(cp, main, args, tag, traced=False):
    """One fresh JVM; returns its wall time, peak RSS and probe record."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    probe = WORK / f"{tag}.probe.json"
    probe.unlink(missing_ok=True)
    props = [f"-Djava.io.tmpdir={tmp}", "-Dspark.extraListeners=perfbench.Probe",
             f"-Dspark.perfbench.out={probe}"]
    if traced:
        props += ["-Dspark.perfbench.trace=true",
                  "-Dspark.sql.queryExecutionListeners=perfbench.PlanProbe"]
    # A fixed-size heap: when the heap may grow, peak RSS follows GC timing
    # more than the program.
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", *ADD_OPENS, *props,
           "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]",
               SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=str(tmp))
    with open(WORK / f"{tag}.stdout", "wb") as so, \
            open(WORK / f"{tag}.stderr", "wb") as se:
        launch = time.time()
        steal0 = steal_s()
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, stdout=so, stderr=se, env=env, cwd=WORK)
    timer = threading.Timer(TIMEOUT_S, p.kill)
    timer.start()
    _, status, usage = os.wait4(p.pid, 0)
    wall = time.monotonic() - t0
    stolen = (steal_s() - steal0) / (wall * cores)
    timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    r = {"tag": tag, "rc": p.returncode, "cli_wall_s": wall,
         "peak_rss_mb": usage.ru_maxrss / 1024, "cores": cores,
         "cpu_s": usage.ru_utime + usage.ru_stime, "stolen": stolen,
         "stdout": (WORK / f"{tag}.stdout").read_text("utf-8", "replace")}
    if probe.exists():
        rec = json.loads(probe.read_text())
        r["setup_s"] = rec["app_start_ms"] / 1e3 - launch
        r["etl_wall_s"] = (rec["app_end_ms"] - rec["app_start_ms"]) / 1e3
    return r


def check(runs, load_replay):
    """Check every run's output against the replay; returns failures."""
    expected = {}
    failed = 0
    for r in runs:
        out = WORK / f"{r['tag']}.csv"
        date = replay.run_date_of(out) if out.exists() else None
        if r["rc"] != 0 or "etl_wall_s" not in r or date is None:
            errs = [f"exit code {r['rc']}, no probe record or no output"]
        else:
            if date not in expected:
                expected[date] = replay.expected(load_replay(), date)
            errs = replay.check_output(out, r["stdout"], expected[date])
        r["ok"] = not errs
        failed += bool(errs)
        print(f"[perfbench] {r['tag']}: wall {r['cli_wall_s']:.2f} s, "
              f"cpu {r['cpu_s']:.2f} s, stolen {r['stolen']:.1%}, "
              f"{'ok' if not errs else '; '.join(errs)}", file=sys.stderr)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    cli_args, n_rows, load_replay = WORKLOADS[a.workload](a.seed, WORK / "inputs")

    def cli(tag):
        return run_jvm(cp, "graft.etl.CidEtl",
                       cli_args + ["--out", str(WORK / f"{tag}.csv")], tag)

    if a.trace:
        runs = [cli("untraced")]
        runs.append(run_jvm(cp, "perfbench.TracedEtl",
                            [str(WORK / "trace.json"), str(WORK / "traced.csv"),
                             *cli_args], "traced", traced=True))
    else:
        runs = []
        t0 = time.monotonic()
        while True:
            runs.append(cli(f"run{len(runs)}"))
            elapsed = time.monotonic() - t0
            disturbed = all(r["stolen"] > STEAL_MAX for r in runs)
            if elapsed + runs[-1]["cli_wall_s"] > a.seconds and not (
                    disturbed and elapsed < 2 * a.seconds):
                break
    failed = check(runs, load_replay)
    ok = [r for r in runs if r["ok"]]
    # Time the runs the host left alone; if none, the least disturbed one.
    timed = [r for r in ok if r["stolen"] <= STEAL_MAX] or sorted(
        ok, key=lambda r: r["stolen"])[:1]

    metrics = {}
    if a.trace and len(ok) == 2:
        untraced, traced = ok
        out = WORK / "traced.csv"
        total = replay.quality_counters(traced["stdout"])[0]
        layers = trace.layer_metrics(trace.load(WORK / "trace.json"),
                                     untraced["etl_wall_s"], traced["cores"],
                                     out.stat().st_size, total)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    elif not a.trace and timed:
        for k, unit in UNITS.items():
            if k == "rows_per_s":
                vals = [n_rows / r["etl_wall_s"] for r in timed]
            else:
                vals = [r[k] for r in timed]
            metrics[k] = {"value": statistics.median(vals), "unit": unit}
    print(json.dumps({"correct": failed == 0 and bool(metrics),
                      "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return {"kb": "KiB", "mb": "MiB", "frac": "ratio",
            "ratio": "ratio"}.get(name.rsplit("_", 1)[-1], "count")


if __name__ == "__main__":
    main()
