"""Run one cdcbench workload and print its result line.

  python3 cdcbench/run.py --workload <live_upsert|changelog_scan>
                          --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark if needed (see build.py), then runs the
workload in one JVM whose java.io.tmpdir is a fresh directory under
.cdcbench/tmp, removed when the JVM exits, whatever the outcome. The last
line of stdout is the JSON result; logs go to stderr. With --trace 1 the
spans are written to .cdcbench/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["live_upsert", "changelog_scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated caller still stops the JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, jars = build.ensure_built()
    tmp_root = os.path.join(build.WORK, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    # a fixed-size heap keeps GC behaviour alike from run to run;
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # the code cache settings are the ones build.sbt gives every engine
    # run, so a run with many plans never fills it and stops compiling
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        cmd += ["--trace-out", os.path.join(build.WORK, "traces",
                                            "%s-seed%d.jsonl" % (a.workload, a.seed))]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=tmp, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("cdcbench: %s did not finish within %d s" % (a.workload, JVM_TIMEOUT_S))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        t1 = time.time()
        shutil.rmtree(tmp, ignore_errors=True)
        print("cdcbench: JVM ran %.1f s, cleanup %.1f s" % (t1 - t0, time.time() - t1),
              file=sys.stderr)

    lines = out.decode("utf-8", "replace").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit("cdcbench: %s exited with code %d" % (a.workload, proc.returncode))
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("cdcbench: malformed result line")
    print(lines[-1])


if __name__ == "__main__":
    main()
