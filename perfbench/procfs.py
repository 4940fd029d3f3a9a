"""Process counters from /proc for the Python driver and its JVM.

PySpark runs the Spark driver in a JVM child of the Python process (the
py4j gateway). Memory and write volume are summed over the two.
psutil is not assumed; everything is read from /proc directly.
"""

from __future__ import annotations


def gateway_pid() -> int:
    """pid of the py4j gateway JVM the current SparkContext talks to."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"{key} not in /proc/{pid}/status")


class ProcSet:
    """The processes whose resources a run is charged for."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def reset_peak_rss(self) -> None:
        """Restart VmHWM from the current RSS (clear_refs value 5)."""
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        """Sum of each process's peak resident set since the last reset."""
        return sum(_status_kb(pid, "VmHWM") for pid in self.pids) / 1024

    def written_bytes(self) -> int:
        """Bytes passed to write syscalls so far (``wchar``): files,
        shuffle and spill files, and sockets alike."""
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        return total
