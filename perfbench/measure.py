"""Measurement helpers: tail percentile, process age, process-tree CPU/RSS,
spans.

Nothing here imports Spark, so the helpers can be unit-tested on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and use only letters, digits,
    ``_``, ``.`` and ``-`` (at most 64 characters)."""
    return bool(METRIC_NAME.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT.match(unit))


# -- percentiles ------------------------------------------------------------


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, never below the median: p = floor(100 * (n - beyond)
    / n), clamped to [50, 99].  With fewer than ``2 * beyond`` samples no
    percentile above the median qualifies, and the tail is the median."""
    if n <= 0:
        raise ValueError("no samples")
    p = math.floor(100 * (n - beyond) / n)
    return max(50, min(99, p))


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the tail of ``values``."""
    p = tail_percentile(len(values), beyond)
    return float(np.percentile(values, p)), p, len(values)


# -- process tree -----------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included.
    /proc gives the start in clock ticks since boot (10 ms on Linux)."""
    start = int(_stat_fields(os.getpid())[19]) / _CLK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine so far, from /proc/stat.  Steal
    is time a virtual CPU was ready to run but the hypervisor ran something
    else: a control that follows the host's load, not the engine's."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen between two host_cpu_ticks()."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (JVM, Python workers, pipe
    children), read from /proc."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is None:
            continue
        children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the process tree, including children
    that have already exited and been reaped (cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident sets (VmHWM) of the live process tree."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


# -- spans ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    pass_id: int = -1
    attrs: dict = field(default_factory=dict)
    idx: int = -1  # position in Tracer.spans

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``span()`` nests through a stack; ``add()``
    places a span whose times come from elsewhere (Spark's job, phase and
    micro-batch timestamps) under the current span."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.time(), parent=parent, pass_id=self.pass_id)
        sp.idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(sp.idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, parent: Span | None = None) -> Span:
        if parent is not None:
            pidx = parent.idx
        else:
            pidx = self._stack[-1] if self._stack else None
        sp = Span(name, layer, start, end, pidx, self.pass_id, idx=len(self.spans))
        self.spans.append(sp)
        return sp

    def subtree(self, root: Span) -> list[tuple[Span, int]]:
        """``root`` and every span below it, each with its depth."""
        ridx = root.idx
        depth = {ridx: 0}
        out = [(root, 0)]
        for i in range(ridx + 1, len(self.spans)):
            p = self.spans[i].parent
            if p in depth:
                depth[i] = depth[p] + 1
                out.append((self.spans[i], depth[i]))
        return out


class NullTracer:
    """Tracing off: spans cost one generator step and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: str):
        yield None


def self_times(tree: list[tuple[Span, int]]) -> dict[str, float]:
    """Attribute the wall time of the root span ``tree[0]`` to layers.

    ``tree`` holds (span, depth) pairs, root first at depth 0.  A span's
    self time is its time minus the time covered by its child spans.
    Children may overlap each other (concurrent Spark jobs) and may poke
    outside their parent (JVM clocks round to milliseconds), so the rule is
    applied as a sweep: every instant inside the root goes to the deepest
    span covering it, the latest-starting one on a tie.  The layer times
    therefore sum to the root's wall time exactly."""
    root = tree[0][0]
    cuts = sorted(
        {root.start, root.end}
        | {t for s, _ in tree[1:] for t in (s.start, s.end) if root.start < t < root.end}
    )
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        layer = max(
            ((d, s.start, s.layer) for s, d in tree if s.start <= mid < s.end),
            default=(0, 0.0, root.layer),
        )[2]
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def covered_s(tree: list[tuple[Span, int]]) -> float:
    """Time of the root span ``tree[0]`` covered by at least one span below
    it: the part of its wall that a child layer accounts for.  The rest is
    the root's own self time, time no named layer was seen in."""
    root = tree[0][0]
    pieces = sorted(
        (max(s.start, root.start), min(s.end, root.end))
        for s, _ in tree[1:]
        if s.end > root.start and s.start < root.end
    )
    total, reach = 0.0, root.start
    for a, b in pieces:
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total
