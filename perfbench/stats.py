"""Pure helpers for the benchmark: order statistics, on-disk byte
counts, process-tree memory and the host stamp. Nothing here imports
Spark, so the helpers are cheap to test."""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import statistics
import subprocess

TAIL_BEYOND = 10


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> tuple[int, float]:
    """Rank and percentile of the highest percentile of ``n`` samples
    that still has at least ``beyond`` samples above it.

    Returns ``(k, pct)``: the ``k``-th smallest sample (1-based) and
    ``pct = 100 * k / n``. With 42 samples that is the 32nd (p76.2); with
    19 it is the 9th (p47.4). Fewer than ``beyond + 1`` samples have no
    such percentile and raise ``ValueError``.
    """
    k = n - beyond
    if k < 1:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    return k, 100.0 * k / n


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(value, percentile)``: the Harrell-Davis estimate of the
    percentile :func:`tail_rank` picks."""
    _k, pct = tail_rank(len(values), beyond)
    return hd_quantile(values, pct / 100.0), pct


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: the mean of the
    sorted samples, the ``i``-th weighted by the probability that a
    Beta((n+1)p, (n+1)(1-p)) variable falls in ``((i-1)/n, i/n]``.

    Every sample contributes, so over a mix of operations the estimate
    moves smoothly when latencies shift, where the sample median jumps
    from one operation's latency to another's. Needs ``1/n <= p <= 1 -
    1/n``, so that both Beta parameters are at least 1.
    """
    x = sorted(values)
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    if a < 1 or b < 1:
        raise ValueError(f"p={p} is too close to 0 or 1 for {n} samples")
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    # Simpson's rule over each cell ((i-1)/n, i/n]
    steps = 64
    mass = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        inner = sum((4 if j % 2 else 2) * pdf(lo + j * h) for j in range(1, steps))
        mass.append((pdf(lo) + inner + pdf(lo + steps * h)) * h / 3)
    return sum(v * m for v, m in zip(x, mass)) / sum(mass)


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def mean(values: list[float]) -> float:
    return float(statistics.fmean(values))


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under ``root``, hidden sidecars,
    commit markers and history directories included. A missing root
    counts as 0."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def stored_bytes(root: str, inputs: str) -> int:
    """On-disk bytes a pipeline left under ``root`` (tables, commit
    sidecars, history, exception sink), not counting its ``inputs``
    directory."""
    return tree_bytes(root) - tree_bytes(inputs)


def file_sizes(root: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` for every regular file under
    ``root``; two listings tell which files a step wrote."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two
    :func:`file_sizes` listings."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def _parents() -> dict[int, int]:
    """``pid -> ppid`` for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces; fields resume after ')'
                out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all of its live descendants."""
    kids: dict[int, list[int]] = {}
    for p, pp in _parents().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of the live ``pids``, in
    MiB."""
    kib = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU seconds of the live ``pids``, each including
    its reaped children (so Python workers that already exited count
    through the JVM that started them)."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine from ``/proc/stat``: the
    share of time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def tree_sha1(base: str, suffix: str) -> str:
    """SHA-1 over the relative paths and bytes of the files under
    ``base`` whose names end in ``suffix``, so a result names the code and
    the input tables it measured, even in a checkout without git
    metadata."""
    h = hashlib.sha1()
    for dirpath, dirs, files in os.walk(base):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(suffix):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def utc_now() -> str:
    return datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
