#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged. Inputs are derived from the seed (derive.py) and
cached, like the DuckDB oracle answers, under ``.perfbench/`` in the checkout.

The run sets up a Spark session, makes one cold pass over the workload's
keys whose results are compared with each key's DuckDB oracle, a few untimed
warm-up passes, then timed warm passes until ``--seconds`` have passed, and
finally sets up a fresh session several more times. With ``--trace 1`` timed
passes alternate traced and untraced and the per-layer metrics are reported
instead of the end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted`` (keys),
``failed`` (keys that threw or failed their check) and ``metrics``. The line
before it names the workload, seed, run context and the detail file, which
holds per-key, per-pass and per-layer numbers.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
SOURCES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
           os.path.join(ROOT, "src", "main"), HARNESS]
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import check  # noqa: E402
import derive  # noqa: E402
import metrics  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_process(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group and wait for it; on timeout the
    whole group is killed, so no child (sbt's JVM, say) outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and not (x == "project" and d.endswith("project")))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        if os.path.isfile(top):
            h.update(open(top, "rb").read())
    return h.hexdigest()


def build():
    """Classpath of graft plus the harness, building them when sources changed."""
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath")
    if os.path.exists(cp_file) and open(os.path.join(out, "stamp")).read() == stamp:
        return open(cp_file).read()
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    with open(os.path.join(out, "sbt.log"), "w") as log:
        code, stdout = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                    "export harness/Runtime/fullClasspath"], 800,
                                   cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        log.write(stdout)
    lines = [ln for ln in stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed, see {os.path.join(out, 'sbt.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(os.path.join(out, "stamp"), "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def declared(bench, section, values):
    """The metrics ``BENCHMARK.json`` lists in ``section``, with its units."""
    missing = [m["name"] for m in bench[section] if m["name"] not in values]
    if missing:
        fail(f"{section} metrics not computed: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench[section]}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cfg = json.load(open(os.path.join(HERE, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {sorted(cfg['workloads'])}")
    for p in SOURCES:
        if not os.path.exists(p):
            fail(f"{p} is missing: run from the root of a graft checkout")
    wl = cfg["workloads"][args.workload]
    src = os.path.expanduser(os.environ.get("PERFBENCH_TESTDATA", cfg["source_dir"]))
    if not os.path.isdir(src):
        fail(f"source tables {src} not found (set PERFBENCH_TESTDATA)")

    classpath = build()
    data = derive.ensure_inputs(src, os.path.join(STATE, "data"), args.seed, cfg["hot"])[wl["inputs"]]

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(STATE, "out")
    run_dir = os.path.join(STATE, "run", tag)
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    cores = min(cfg["cores_max"], nproc)
    raw_path = os.path.join(run_dir, "raw.json")
    java = (["java", f"-Xmx{cfg['heap']}", f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dderby.system.home={run_dir}/tmp"] +
            [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", classpath, "perfbench.Harness",
             "--data", data, "--keys", ",".join(wl["keys"]), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--cores", str(cores), "--setups", str(cfg["setups"]),
             "--warmup", str(cfg["warmup_passes"]), "--min-warm", str(cfg["min_warm_passes"]),
             "--out", raw_path, "--check-dir", os.path.join(run_dir, "check"),
             "--scratch", os.path.join(run_dir, "tmp")])
    # graft reads some GRAFT_* variables; the shipped defaults are what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    load_before, steal_before = loadavg(), steal_s()
    t0 = time.time()
    with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
        code, _ = run_process(java, 160, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT, env=env)
    wall = time.time() - t0
    load_after, steal = loadavg(), steal_s() - steal_before
    if code != 0 or not os.path.exists(raw_path):
        fail(f"harness exited {code}, see {os.path.join(out_dir, tag + '.log')}")
    raw = json.load(open(raw_path))

    oracle_sql = json.load(open(os.path.join(run_dir, "check", "oracle_sql.json")))
    failures = check.check_keys(data, os.path.join(run_dir, "check"), oracle_sql, wl["keys"],
                                os.path.join(os.path.dirname(data), f"oracle-{wl['inputs']}"))
    for key, err in raw["errors"].items():
        failures[key] = f"threw: {err}"

    e2e = metrics.end_to_end(raw, failures)
    context = {
        "nproc": nproc, "cores": cores, "loadavg_before": load_before,
        "loadavg_after": load_after, "cpu_steal_s": steal, "jvm_wall_s": wall, "jvm_boot_s": raw["jvm_boot_ms"] / 1e3,
        "setup_cold_s": metrics.cold_setup_s(raw),
        "process_cpu_s": raw["jvm"]["proc_cpu_ns"] / 1e9,
        "executor_cpu_s": sum(p["cpu_ns"] for p in raw["passes"]) / 1e9,
        "gc_s": raw["jvm"]["gc_ms"] / 1e3, "jit_s": raw["jvm"]["jit_ms"] / 1e3,
        "warmup_passes": sum(p["kind"] == "warmup" for p in raw["passes"]),
        "timed_passes": len(metrics.timed_passes(raw, traced=False)),
    }
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "inputs": json.load(open(os.path.join(data, "manifest.json"))),
              "keys": wl["keys"], "context": context, "failures": failures,
              "end_to_end": declared(bench, "end_to_end", e2e),
              "per_key": metrics.per_key(raw),
              "passes": [{"kind": p["kind"], "traced": p["traced"], "wall_s": metrics.duration(p),
                          "cpu_s": p["cpu_ns"] / 1e9, "shuffle_write_mb": p["shuffle_write_bytes"] / 1e6,
                          "gc_s": p["gc_ms"] / 1e3, "jit_s": p["jit_ms"] / 1e3,
                          "process_cpu_s": p["proc_cpu_ns"] / 1e9} for p in raw["passes"]],
              "setup_s": [x / 1e9 for x in raw["setup_ns"]]}
    if args.trace:
        layers, per_pass = metrics.per_layer(raw)
        detail["per_layer"] = declared(bench, "per_layer", layers)
        detail["per_layer_passes"] = per_pass
        reported = detail["per_layer"]
    else:
        reported = detail["end_to_end"]
    detail_path = os.path.join(out_dir, f"{tag}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    print(f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={context['nproc']} cores={cores} loadavg={load_before[0]}->{load_after[0]} steal_s={steal:.2f} "
          f"process_cpu_s={context['process_cpu_s']:.2f} executor_cpu_s={context['executor_cpu_s']:.2f} "
          f"gc_s={context['gc_s']:.2f} jit_s={context['jit_s']:.2f} failed={sorted(failures)} "
          f"detail={os.path.relpath(detail_path, ROOT)}")
    print(json.dumps({"correct": not failures, "attempted": len(wl["keys"]), "failed": len(failures),
                      "metrics": reported}))


if __name__ == "__main__":
    main()
