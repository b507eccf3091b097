"""Host provenance recorded with every result. All of it is host-local:
it describes the machine the run was made on, not a reference shape."""
import os
import subprocess


def _read(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def mem_available_mb():
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemAvailable:"):
            return int(line.split()[1]) / 1024.0
    return None


def cpu_ticks():
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    first = _read("/proc/stat").split("\n", 1)[0].split()
    if not first or first[0] != "cpu":
        return None
    vals = [int(v) for v in first[1:]]
    # guest time is already counted in user time
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def commit(root):
    """The checkout's commit, when it is a git work tree of its own."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


class Probe:
    """Samples the host at the start of a run; finish() adds the end."""

    def __init__(self):
        self.mem_start = mem_available_mb()
        self.load_start = _read("/proc/loadavg").split()[:3]
        self.ticks = cpu_ticks()

    def finish(self, root):
        ticks = cpu_ticks()
        steal = None
        if self.ticks and ticks and ticks[1] > self.ticks[1]:
            steal = 100.0 * (ticks[0] - self.ticks[0]) / (ticks[1] - self.ticks[1])
        return {
            "nproc": os.cpu_count(),
            "mem_available_mb_start": self.mem_start,
            "mem_available_mb_end": mem_available_mb(),
            "loadavg_start": " ".join(self.load_start),
            "loadavg_end": " ".join(_read("/proc/loadavg").split()[:3]),
            "cpu_steal_pct": steal,
            "commit": commit(root),
        }
