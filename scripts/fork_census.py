#!/usr/bin/env python3
"""Count the processes one benchmark run's JVM starts, and where from.

Usage: python3 scripts/fork_census.py [--workload W] [--seed N] [--seconds S] [--out DIR]

Runs `python3 perfbench/run.py --workload W --seed N --seconds S --trace 0`
from the repository root with a flight recording of the benchmark JVM
(`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=...`), reads the
recording's `jdk.ProcessStart` events with `jfr print --stack-depth 40`,
and prints how many processes each command started and, per command, the
innermost graft or Spark frame of the stacks that started them. A last
line counts the processes started with a `CheckpointFileManager` frame
(Spark's or graft's) on the stack.

The benchmark is built first without the recording, so the sbt and
class-data archive JVMs are not counted. The recording is written to
--out (a new temp dir by default); nothing is written under perfbench/.
"""
import argparse
import collections
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
OWN_FRAME = re.compile(r"^(graft|graftbench|org\.apache\.spark)\.")


def build():
    """Build the benchmark the way its runs do, outside the recording."""
    sys.dont_write_bytecode = True  # no __pycache__ under perfbench/
    sys.path.insert(0, str(REPO / "perfbench"))
    import run
    run.build()


def events(jfr_file):
    """(command, [frame, ...]) per jdk.ProcessStart event, innermost frame first."""
    text = subprocess.run(
        ["jfr", "print", "--stack-depth", "40", "--events", "jdk.ProcessStart", str(jfr_file)],
        check=True, capture_output=True, text=True).stdout
    out, command, frames, in_stack = [], None, [], False
    for line in text.splitlines():
        s = line.strip()
        if s == "jdk.ProcessStart {":
            command, frames, in_stack = None, [], False
        elif s.startswith("command = "):
            command = s[len("command = "):].strip('"')
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s != "...":
            frames.append(s)
        elif s == "}" and command is not None:
            out.append((command, frames))
            command = None
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="stream_ingest")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out", help="directory for the recording (default: a new temp dir)")
    a = ap.parse_args()
    out = Path(a.out or tempfile.mkdtemp(prefix="fork_census_"))
    out.mkdir(parents=True, exist_ok=True)
    jfr_file = out / f"{a.workload}-{a.seed}.jfr"

    build()
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:StartFlightRecording=filename={jfr_file}")
    run = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", "0"],
        cwd=REPO, env=env, capture_output=True, text=True)
    if run.returncode != 0 or not jfr_file.is_file():
        sys.stderr.write(run.stderr[-4000:])
        sys.exit(f"fork_census: the benchmark run failed ({run.returncode})")
    print(run.stdout.strip().splitlines()[-1][:200])

    evs = events(jfr_file)
    by_command = collections.defaultdict(collections.Counter)
    for command, frames in evs:
        top = next((f.split("(")[0] for f in frames if OWN_FRAME.match(f)), "(no graft or Spark frame)")
        by_command[command.split()[0] if command else "?"][top] += 1
    print(f"{a.workload} seed {a.seed}: {len(evs)} processes started ({jfr_file})")
    for cmd, tops in sorted(by_command.items(), key=lambda kv: -sum(kv[1].values())):
        print(f"{sum(tops.values()):6d}  {cmd}")
        for top, n in tops.most_common():
            print(f"{'':8}{n:6d}  {top}")
    ckpt = sum(any("CheckpointFileManager" in f for f in frames) for _, frames in evs)
    print(f"with a CheckpointFileManager frame: {ckpt}")


if __name__ == "__main__":
    main()
