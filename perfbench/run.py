"""ETD pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload refresh_fleet --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (perfbench/build.py, cached under
.bench_build/), runs one JVM with local[k] (k = the machine's cores) and
prints one `metric ...` line per metric, then one JSON result as the last
line of stdout. Exits non-zero without a result when the build or the run
fails. See perfbench/README.md.

Extra modes: --record COUNT (write the output digests of COUNT input
variants from --seed on to perfbench/expected/) and --self-test (the
benchmark's own tests).
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(cp, main, args):
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # the heap is fixed and touched up front, so the resident size does not
    # depend on how much of the heap the collector happened to reach;
    # peak_heap_mb carries the program's own heap use
    return (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
             "-XX:+AlwaysPreTouch", "-Xss8m",
             "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", cp, main] + args)


def run_jvm(cmd, deadline):
    """Run the JVM in the checkout; return (code, stdout lines). The JVM
    never outlives this process: a deadline or a SIGTERM kills it and waits
    for it to end."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print("run: the benchmark JVM overran its deadline", file=sys.stderr)
        return 3, []
    return p.returncode, out.splitlines()


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", type=int, default=0, metavar="COUNT")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    start = time.time()
    end_to_end, per_layer = declared_metrics()
    cp = build.build()
    if a.self_test:
        code, lines = run_jvm(java_cmd(cp, "perfbench.SelfTest", []),
                              time.time() + 600)
        print("\n".join(lines))
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--expected", os.path.join(HERE, "expected")]
    if a.record:
        args += ["--record", str(a.record)]
    # the build may take the first run's time; the run itself gets the rest
    deadline = max(start, time.time() - 60) + DEADLINE_S * max(1, a.record)
    code, lines = run_jvm(java_cmd(cp, "perfbench.Main", args), deadline)
    if code != 0:
        sys.exit(code or 1)
    if a.record:
        return
    if not lines:
        sys.exit("run: no result from the benchmark JVM")
    result = json.loads(lines[-1])
    want = per_layer if a.trace else end_to_end
    got = result["metrics"]
    unknown = sorted(set(got) - set(want))
    wrong_unit = sorted(n for n in got if n in want and got[n]["unit"] != want[n])
    if unknown or wrong_unit:
        sys.exit(f"run: metrics not declared in BENCHMARK.json: {unknown}; "
                 f"units differ: {wrong_unit}")
    missing = sorted(set(want) - set(got))
    if not a.trace and missing:
        sys.exit(f"run: end-to-end metrics missing: {missing}")
    # a layer that does not run on this workload reports 0
    for n in missing:
        got[n] = {"value": 0, "unit": want[n]}
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
