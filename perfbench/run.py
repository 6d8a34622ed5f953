"""The repo's benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM: seeded inputs, a closed loop of ops from one
client thread against local[nproc], every op's output checked. The last
stdout line is the result JSON. Workloads, metrics and the layer map are
described in perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", default="1")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    root = Path.cwd()
    classes = build.build(root)
    out = build.build_dir(root)
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    here = Path(__file__).resolve().parent
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
            "--work", str(out / "work")]
    if args.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", args.workload, "--seed", args.seed,
                "--seconds", args.seconds, "--trace", args.trace]
    # Spark would place its scratch space in these instead of under the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        done = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=175)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded 175 s")
    lines = done.stdout.rstrip("\n").split("\n")
    print("\n".join(lines[:-1]))
    if done.returncode != 0:
        print(lines[-1])
        raise SystemExit(f"perfbench: benchmark exited with {done.returncode}")
    if not args.selftest:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
