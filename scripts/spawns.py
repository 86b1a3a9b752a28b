#!/usr/bin/env python3
"""Count the process creations while a command runs.

Reads the `processes` field of /proc/stat (forks and clones since boot)
before and after the command and prints the difference, in total and
per second of the command's wall time.  The counter is system-wide, so
other work on the machine counts too, and it counts threads as well as
processes: a JVM that starts a thread adds one.  Read-only on /proc.

Usage: python3 scripts/spawns.py <command> [args...]
Exits with the command's exit code.
"""
import subprocess
import sys
import time


def processes():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise SystemExit("spawns: no processes field in /proc/stat")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    n0, t0 = processes(), time.monotonic()
    code = subprocess.call(sys.argv[1:])
    n, secs = processes() - n0, time.monotonic() - t0
    print(f"spawns: {n} process creations in {secs:.1f} s ({n / secs:.1f}/s)",
          file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
