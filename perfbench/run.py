#!/usr/bin/env python3
"""Benchmark runner: builds the harness, makes the inputs, runs one workload.

    python3 perfbench/run.py --workload query_floor --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
`--workload all` runs every workload untraced and then traced, and
prints the tracing overhead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
# A fixed-size heap and young generation: with an adaptive heap the peak
# resident set varied by a third between identical runs.
JVM_HEAP = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the harness build depends on, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the engine and the harness once per source state; return
    (class path, JVM module flags)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (src/main/scala, build.sbt) are not in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    launcher = os.path.join(HERE, "target", "launcher.txt")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isfile(launcher)):
        os.makedirs(WORK, exist_ok=True)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=600).returncode
        if rc != 0 or not os.path.isfile(launcher):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness build failed (sbt exit {rc}); log in {log}", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launcher).read().splitlines()
    return lines[0], lines[1:]


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def harness(launch, conf, label):
    """Run the harness JVM once on `conf` in a fresh run directory; return
    its result JSON. Every file the run writes stays in that directory."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    conf = dict(conf, work=run_dir, cores=len(os.sched_getaffinity(0)),
                out=os.path.join(run_dir, "result.json"))
    conf_path = os.path.join(run_dir, "harness.conf")
    with open(conf_path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in conf.items())
    cp, opens = launch
    cmd = ["java", *JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for m in opens:
        cmd += ["--add-opens", m]
    cmd += ["-cp", cp, "perfbench.Main", conf_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{label}: harness exceeded {RUN_TIMEOUT_S} s; log in {log_path}", 4)
    if rc != 0 or not os.path.isfile(conf["out"]):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail(f"{label}: harness exited with {rc}; log in {log_path}", 4)
    return load_json(conf["out"])


def tables(args, spec):
    import gen  # noqa: E402  (perfbench/gen.py)
    sf = args.sf if args.sf is not None else spec["sf"]
    return sf, gen.ensure(os.path.join(WORK, "data"), sf)


def run_one(args, workload, trace, bench, spec, launch):
    sf, data = tables(args, spec)
    conf = {"workload": workload, "seed": args.seed, "seconds": args.seconds,
            "trace": trace, "data": data, "plant_fault": 1 if args.plant_fault else 0}
    wl = dict(spec["workloads"][workload])
    if "queries" in wl:
        conf["queries"] = ",".join(wl.pop("queries"))
        prints = load_json(os.path.join(HERE, "fingerprints.json")).get(str(sf), {})
        conf.update({f"fp.{n}": fp for n, fp in prints.items()})
    conf.update(wl)
    res = harness(launch, conf, workload)
    section = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[section]}
    missing = set(units) - set(res["metrics"])
    if missing:
        fail(f"{workload}: harness did not emit {sorted(missing)}", 5)
    return res, {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()}


def show(workload, trace, res):
    tag = f"{workload}{' (traced)' if trace else ''}"
    for name, (value, unit) in res["report"].items():
        print(f"{tag}  {name} = {value:.6g} {unit}")
    for name, value in res["diag"].items():
        print(f"{tag}  [host] {name} = {value:.6g}")
    for f in res["failures"]:
        print(f"{tag}  FAILED {f}")


def main():
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "workloads.json"))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in bench["workloads"]] + ["all", "record"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, help="scale factor override (smoke tests)")
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt one expected output, to prove the check catches it")
    args = p.parse_args()
    sys.path.insert(0, HERE)
    launch = build()

    if args.workload == "record":
        return record(args, spec, launch)
    if args.workload != "all":
        res, metrics = run_one(args, args.workload, args.trace, bench, spec, launch)
        show(args.workload, args.trace, res)
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in (w["name"] for w in bench["workloads"]):
        plain, plain_m = run_one(args, w, 0, bench, spec, launch)
        traced, traced_m = run_one(args, w, 1, bench, spec, launch)
        for trace, res, metrics in ((0, plain, plain_m), (1, traced, traced_m)):
            show(w, trace, res)
            for n, m in metrics.items():
                print(f"{w}{' (traced)' if trace else ''}  {n} = {m['value']:.6g} {m['unit']}")
            summary["attempted"] += res["attempted"]
            summary["failed"] += res["failed"]
        overhead = traced_m["traced.pass_s"]["value"] / plain_m["pass_s"]["value"] - 1
        print(f"{w}  tracing overhead on pass_s = {overhead:+.1%}")
        summary["metrics"][f"{w}.trace_overhead"] = {"value": overhead, "unit": "ratio"}
    summary["correct"] = summary["failed"] == 0
    print(json.dumps(summary))


def record(args, spec, launch):
    """Write every query's result, its oracle SQL and its fingerprint to
    .bench_build/perfbench/record-sf<sf>/ for `tools/oracle_check.py`."""
    sf, data = tables(args, spec)
    out = os.path.join(WORK, f"record-sf{sf}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    names = [q for w in spec["workloads"].values() for q in w.get("queries", [])]
    harness(launch, {"workload": "record", "data": data, "queries": ",".join(names),
                     "record_dir": out}, "record")
    print(f"tables: {data}\nresults: {out}")


if __name__ == "__main__":
    main()
