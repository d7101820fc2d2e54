"""Closed-loop benchmark of graft: catalog reads with lake writes, and near-dup pipelines.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload in turn
    python3 perfbench/run.py --self-test                 # the benchmark's own tests

Builds graft and the benchmark from source on first use (see build.py),
then runs one benchmark JVM. The JVM prints a report and a ``RESULT``
line of metric values; this script forwards the report, names each
metric ``BENCHMARK.json`` lists with its unit from there, and prints the
result object as the last line of standard output. Workloads, op mixes
and metric definitions are documented in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["lakehouse", "dedup_pipeline"]
MAX_CORES = 2
JVM_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def host_cores():
    """Cores this process may run on, capped: the Spark master is local[n].

    The cap is low on purpose: on a shared host a JVM that keeps every
    core busy measures the contention for cores as much as its own work.
    """
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, MAX_CORES)), n


def heap_mb():
    """JVM heap from MemTotal: an eighth of the machine, within [1, 3] GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(1024, min(3072, int(line.split()[1]) // 1024 // 8))
    except OSError:
        pass
    return 1024


def jvm_cmd(classpath, main, args, work):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    heap = heap_mb()
    cores, _ = host_cores()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # ActiveProcessorCount sizes the GC and JIT thread pools to the Spark cores
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap}m", f"-Xms{heap}m", "-XX:+UseParallelGC",
             f"-XX:ActiveProcessorCount={cores}",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens
            + ["-cp", ":".join(classpath), main] + args)


def run_jvm(cmd, work):
    """Runs the JVM in its own process group; returns its stdout lines or None."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
    return out.splitlines()


def listed(kind):
    """The metrics BENCHMARK.json lists under `kind`."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def metrics(values, trace):
    """The metrics BENCHMARK.json lists, in its order and with its units.

    Every end-to-end metric must have been measured. A per-layer metric the
    JVM did not report belongs to a layer the workload does not call: 0.
    """
    spec = listed("per_layer" if trace else "end_to_end")
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing and not trace:
        raise KeyError(f"end-to-end metrics not measured: {missing}")
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}


def ensure_inputs(classpath, workload):
    """The workload's data set, generated by a JVM of its own on first use.

    The data set does not depend on the run's seed, so one generation
    serves every run in the checkout, and every measured JVM starts from
    written inputs.
    """
    inputs = os.path.join(build.OUT, "inputs", workload)
    if os.path.exists(os.path.join(inputs, "_COMPLETE")):
        return inputs
    cores, _ = host_cores()
    work = os.path.join(build.OUT, f"gen-{os.getpid()}-{workload}")
    tmp = inputs + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    args = ["--generate", "1", "--workload", workload, "--cores", str(cores),
            "--work", work, "--inputs", tmp]
    lines = run_jvm(jvm_cmd(classpath, "graftbench.Main", args, work), work) or []
    for line in lines:
        print(line)
    if lines[-1:] != ["GENERATED"]:
        shutil.rmtree(tmp, ignore_errors=True)
        return None
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(inputs, ignore_errors=True)
    os.rename(tmp, inputs)
    return inputs


def run_workload(classpath, workload, seed, seconds, trace):
    inputs = ensure_inputs(classpath, workload)
    if inputs is None:
        return None
    cores, nproc = host_cores()
    work = os.path.join(build.OUT, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    traces = os.path.join(build.OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--nproc", str(nproc),
            "--work", work, "--inputs", inputs,
            "--trace-out", os.path.join(traces, f"{workload}-seed{seed}.json")]
    lines = run_jvm(jvm_cmd(classpath, "graftbench.Main", args, work), work)
    if lines is None:
        return None
    result = None
    # the workload-specific figures are listed as per-layer e2e.<name>
    units = {m["name"][len("e2e."):]: m["unit"] for m in listed("per_layer")
             if m["name"].startswith("e2e.")}
    for line in lines:
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("extra "):
            print(f"{line} {units.get(line.split()[1], '')}".rstrip())
        else:
            print(line)
    if result is None:
        return None
    result["metrics"] = metrics(result.pop("values"), trace)
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6f} {m['unit']}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    # a SIGTERM unwinds through run_jvm's cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build(with_tests=a.self_test)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if a.self_test:
        work = os.path.join(build.OUT, f"selftest-{os.getpid()}")
        lines = run_jvm(jvm_cmd(classpath, "graftbench.SelfTest", ["--work", work], work), work)
        for line in lines or []:
            print(line)
        return 0 if lines and lines[-1] == "SELFTEST OK" else 1
    status = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        result = run_workload(classpath, w, a.seed, a.seconds, a.trace)
        if result is None:
            status = 1
            continue
        print(json.dumps(result), flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
