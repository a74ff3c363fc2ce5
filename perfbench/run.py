"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the JVM side when the
sources changed (`build.py`), generates the fixture tables and the DuckDB
expected rows once per checkout, runs the workload in a fresh JVM, and
prints one JSON line: `correct`, `attempted`, `failed`, and the end-to-end
(`--trace 0`) or per-layer (`--trace 1`) metrics of BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = build.BUILD
JVM_TIMEOUT_S = 165

# Offered rates sit below each pipeline's closed-loop capacity on 3 cores,
# so the open-loop backlog stays flat (backlog.grew reads 0).
WORKLOADS = {
    "stream_embed": {"sf": 0.01, "opts": {
        "prime": 1000, "setups": 3, "rate": 2000, "open_share": 0.75, "batch": 5000,
        "warm": 3, "baseline_s": 4}},
    "stream_layer2": {"sf": 0.01, "opts": {
        "prime": 500, "setups": 3, "rate": 500, "open_share": 0.6, "batch": 2000,
        "warm": 2}},
    "snapshot_analytics": {"sf": 0.01, "opts": {"min_passes": 2}},
}

ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _digest(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _fresh(directory, stamp, make):
    """Run `make(tmp_dir)` unless `directory` already holds `stamp`."""
    stamp_file = directory + ".stamp"
    if os.path.isdir(directory) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return directory
    tmp = directory + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    shutil.rmtree(directory, ignore_errors=True)
    os.replace(tmp, directory)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return directory


def _jvm(classes, heap, tmp):
    cp = ":".join([classes] + build.spark_jars())
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", cp, "perfbench.Main"]


def _env():
    # the engine's session factory reads SPARK_GRAFT_*; the benchmark sets
    # the core count itself
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def _expected(classes, data, sf, tmp):
    def make(out):
        os.makedirs(out)
        sql = os.path.join(out, "oracle_sql.json")
        subprocess.run(_jvm(classes, "1g", tmp) + ["--dump-oracle", sql], check=True,
                       env=_env(), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=120)
        oracle.write(sql, data, out, tmp)
    stamp = open(classes + ".stamp").read() + open(data + ".stamp").read() \
        + _digest(os.path.join(os.path.dirname(__file__), "oracle.py"))
    return _fresh(os.path.join(BUILD, "expected", f"sf{sf}"), stamp, make)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    data = _fresh(os.path.join(BUILD, "data", f"sf{cfg['sf']}"),
                  _digest(gen.__file__) + str(cfg["sf"]), lambda d: gen.write(cfg["sf"], d))
    expected = _expected(classes, data, cfg["sf"], tmp) \
        if a.workload == "snapshot_analytics" else ""

    work = os.path.abspath(os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    # one core is left to the driver, generator, stream and JVM threads:
    # with every core running tasks, a run's speed follows the scheduler
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": os.path.abspath(data), "expected": os.path.abspath(expected) if expected else "",
            "work": work, "out": raw_path, "cores": cores, **cfg["opts"]}
    cmd = _jvm(classes, "3g", tmp) + [x for k, v in args.items() for x in (f"--{k}", str(v))]
    log = os.path.join(BUILD, f"{a.workload}.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, env=_env(),
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw_path):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        print(f"perfbench: workload JVM failed ({rc}); log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(raw_path) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    history = os.path.join(BUILD, "history.jsonl")
    past = []
    if os.path.exists(history):
        with open(history) as fh:
            past = [h["metrics"] for h in map(json.loads, fh) if h["workload"] == a.workload]
    res = metrics.compute(raw, a.trace, past)
    if not a.trace:
        with open(history, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "metrics": {
                k: v["value"] for k, v in res["metrics"].items()}}) + "\n")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
