"""Per-process peak memory of a command and every process it starts.

Runs the command, samples ``VmHWM`` (peak resident set) of it and each
descendant from ``/proc`` every half second until it exits, and prints
one line per process seen (pid, peak MB, command line), then the sum.
perfbench's ``peak_rss_mb`` is the same sum taken once, at the end of
the run, over the processes still alive; this listing also keeps
processes that exited earlier, so it shows which process a memory
figure comes from (the JVM, the ``pyspark.daemon``, each forked
``pyspark.worker``) and its sum can exceed ``peak_rss_mb``.  Linux
only.

Usage:

    python3 tools/proc_hwm.py python3 perfbench/run.py \\
        --workload lake_ingest --seed 1 --seconds 8 --trace 0

The command's own output goes to stderr, the listing to stdout.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench")
)
from run import descendants  # noqa: E402


def sample(pid: int) -> tuple[int, str] | None:
    """(VmHWM in kB, command line) of one process, None once gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        with open(f"/proc/{pid}/cmdline") as f:
            cmd = f.read().replace("\0", " ").strip()
    except (OSError, StopIteration):
        return None
    return kb, cmd


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    proc = subprocess.Popen(argv, stdout=sys.stderr)
    seen: dict[int, tuple[int, str]] = {}
    while proc.poll() is None:
        for pid in [proc.pid, *descendants(proc.pid)]:
            got = sample(pid)
            if got is not None:
                seen[pid] = got
        time.sleep(0.5)
    for pid, (kb, cmd) in sorted(seen.items()):
        print(f"{pid:>8} {kb / 1024:8.1f} MB  {cmd[:100]}")
    print(f"{'sum':>8} {sum(kb for kb, _ in seen.values()) / 1024:8.1f} MB")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
