"""Per-process peak memory of a command and every process it starts.

Runs the command, samples ``VmHWM`` (peak resident set) of it and each
descendant from ``/proc`` every half second until it exits, and prints
one line per process seen, then the sums.  Each line gives the pid, the
parent pid (a ``pyspark.daemon`` and the children it forks share one
command line; the child's parent is the daemon), the peak MB, whether
the process was alive at the end, and the command line (a ``python -m``
command in full from ``-m`` on, so the worker module shows; any other
command cut to 100 characters).

perfbench's ``peak_rss_mb`` is the same sum taken once, at the end of
the run before Spark stops, over the processes still alive.  Spark's
stop ends every descendant within a moment, so a process counts as
alive at the end (``end`` column ``yes``) when it was last seen within
``END_WINDOW_S`` of the last sample of any descendant; ``sum at end``
adds those and compares with ``peak_rss_mb``, ``sum`` also keeps the
processes that exited earlier.  Linux only.

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


END_WINDOW_S = 2.0


def sample(pid: int) -> tuple[int, int, list[str]] | None:
    """(VmHWM in kB, parent pid, argv) of one process, None once gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(ln.split(":", 1) for ln in f if ":" in ln)
        with open(f"/proc/{pid}/cmdline") as f:
            argv = f.read().rstrip("\0").split("\0")
        return int(fields["VmHWM"].split()[0]), int(fields["PPid"]), argv
    except (OSError, KeyError, ValueError):
        return None


def command(argv: list[str]) -> str:
    """A ``python -m`` command line in full from ``-m`` on, else cut."""
    if "-m" in argv:
        return " ".join([os.path.basename(argv[0]), *argv[argv.index("-m"):]])
    return " ".join(argv)[:100]


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    proc = subprocess.Popen(argv, stdout=sys.stderr)
    seen: dict[int, tuple[int, int, list[str]]] = {}
    last: dict[int, float] = {}
    while proc.poll() is None:
        now = time.monotonic()
        for pid in [proc.pid, *descendants(proc.pid)]:
            got = sample(pid)
            if got is not None:
                seen[pid] = got
                last[pid] = now
        time.sleep(0.5)
    end = max((t for pid, t in last.items() if pid != proc.pid), default=0.0)
    alive = {pid for pid, t in last.items() if t >= end - END_WINDOW_S}
    print(f"{'pid':>8} {'ppid':>8} {'peak MB':>8}  end  command")
    for pid, (kb, ppid, args) in sorted(seen.items()):
        mark = "yes" if pid in alive else "no"
        print(f"{pid:>8} {ppid:>8} {kb / 1024:8.1f}  {mark:<3}  {command(args)}")
    total = sum(kb for kb, _, _ in seen.values()) / 1024
    at_end = sum(seen[pid][0] for pid in alive) / 1024
    print(f"{'sum':>17} {total:8.1f} MB")
    print(f"{'sum at end':>17} {at_end:8.1f} MB")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
