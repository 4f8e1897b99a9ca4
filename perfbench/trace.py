"""In-memory span recorder, layer instrumentation and resource metering.

Spans are recorded from the benchmark's own files only: :func:`instrument`
wraps the public entry points of the ``plans`` and ``sources`` layers for
the duration of a traced run and restores them afterwards; nothing inside
the package changes. Spans stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent span, run id) in memory.

    The parent of a span is the innermost open span on the same thread; a
    span opened on a helper thread (the crawl loop submits its state writes
    from a thread pool) is parented to the innermost open span of the
    thread that created the tracer."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        rec = dict(attrs)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.run_id, rec))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def covered(self, span: Span, prefix: str) -> float:
        """Seconds of ``span``'s interval covered by its descendants whose
        name starts with ``prefix`` (union of intervals: concurrent
        children are not double-counted)."""
        ivs = sorted(
            (max(s.start, span.start), min(s.end, span.end))
            for s in self.descendants(span) if s.name.startswith(prefix)
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the interval its child spans cover."""
        return span.dur - self.covered(span, "")

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                d = asdict(s)
                d["start"] = round(s.start - t0, 6)
                d["end"] = round(s.end - t0, 6)
                d["self_s"] = round(self.self_time(s), 6)
                f.write(json.dumps(d) + "\n")


# ---------------------------------------------------------------------------
# layer instrumentation
# ---------------------------------------------------------------------------

# Catalog table name -> the state kind the crawl loop writes it as
_TABLE_KINDS = ("pending", "seen", "host_state", "scheduled", "bloom",
                "cuckoo", "theme_patterns", "theme_pages")


def table_kind(name: str) -> str:
    for kind in _TABLE_KINDS:
        if name == kind or name.startswith(kind + "_"):
            return "prefilter" if kind in ("bloom", "cuckoo") else kind
    return "other"


def _wrap(tracer: Tracer, span_name, fn):
    def wrapper(*args, **kwargs):
        name = span_name(*args, **kwargs) if callable(span_name) else span_name
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer, plan_calls: dict[str, tuple[object, str]]):
    """Wrap the plan-layer entry points named in ``plan_calls``
    (``{span name: (module, attribute)}``) and the ``sources`` layer's
    Catalog actions in spans; restore everything on exit."""
    from url_pattern_algorithm_spark.sources.catalog import Catalog

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, wrapped):
        patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapped)

    for span_name, (module, attr) in plan_calls.items():
        patch(module, attr, _wrap(tracer, span_name, getattr(module, attr)))
    patch(Catalog, "write_checkpoint", _wrap(
        tracer,
        lambda self, df, name, *a, **k: f"sources.write_checkpoint.{table_kind(name)}",
        Catalog.write_checkpoint))
    patch(Catalog, "rewrite", _wrap(tracer, "sources.rewrite", Catalog.rewrite))
    patch(Catalog, "rewrite_locked",
          _wrap(tracer, "sources.rewrite", Catalog.rewrite_locked))
    patch(Catalog, "append", _wrap(tracer, "sources.append", Catalog.append))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# memory and CPU of the driver, its JVM and the Python workers, from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_mem_mb(root: int | None = None) -> tuple[float, float]:
    """(RSS, PSS) in MB of ``root`` (default: this process) plus all its
    descendants — the driver JVM is a child of the Python driver, the
    Python workers are children of the JVM's worker daemon. PSS splits
    pages shared between forked workers instead of counting them once per
    process."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    rss = pss = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        rss += _kb(f"/proc/{pid}/status", "VmRSS:")
        pss += _kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        todo.extend(kids.get(pid, ()))
    return rss / 1024.0, pss / 1024.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (reported only:
    with paravirtual steal accounting the kernel already leaves it out of
    the tasks' CPU time)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host speed: CPU seconds of a fixed reference task, sampled all run long
# ---------------------------------------------------------------------------

_PROBE_URLS = [
    f"http://www.host{i % 97}.example.com/a/{i % 31}/b{i * 7 % 13}/"
    f"page-{i}.html?q={i % 5}&s={i}" for i in range(400)]

# CPU seconds of one reference unit on an unloaded host of the baseline
# machine (README); a figure in "reference CPU seconds" is the measured CPU
# seconds times REF_UNIT_S / (the unit's mean CPU seconds over the interval)
REF_UNIT_S = 0.003


def reference_unit() -> int:
    """A fixed pure-Python task (URL splitting, lower-casing, sorting,
    hashing, dict updates) that takes ~3 ms of CPU. Its CPU time moves with
    the host, not with the program under test: it shares no code with it."""
    from urllib.parse import urlsplit
    import zlib

    acc: dict[str, int] = {}
    for u in _PROBE_URLS:
        p = urlsplit(u)
        key = p.netloc + "/" + "/".join(sorted(p.path.lower().split("/")))
        acc[key] = acc.get(key, 0) ^ zlib.crc32(u.encode())
    return len(acc)


# every sampler started in this process; their threads' own CPU is left out
# of every CPU reading, running or finished
_samplers: list[Sampler] = []


def work_cpu_s() -> float:
    """:func:`tree_cpu_s` of this process, less the CPU seconds the
    benchmark's own samplers spent."""
    return tree_cpu_s() - sum(m.own_cpu_s for m in _samplers)


def host_speed(t0: float, t1: float) -> float:
    """REF_UNIT_S / the mean CPU seconds of the reference units the running
    sampler ran between ``perf_counter`` times ``t0`` and ``t1``; 1.0 when
    no sampler ran then."""
    units = [cpu for m in _samplers for t, cpu in m.units if t0 <= t <= t1]
    return REF_UNIT_S * len(units) / sum(units) if units else 1.0


class Meter:
    """Wall seconds, CPU seconds of the process tree (:func:`work_cpu_s`),
    the machine's stolen CPU seconds and the host speed
    (:func:`host_speed`) between :meth:`start` and :meth:`stop`, or over a
    ``with`` block; ``ref_cpu_s`` is the CPU seconds times the host speed,
    i.e. in reference CPU seconds."""

    def start(self) -> Meter:
        self._t0 = (time.perf_counter(), work_cpu_s(), steal_s())
        return self

    def elapsed_s(self) -> float:
        """Wall seconds since :meth:`start`."""
        return time.perf_counter() - self._t0[0]

    def stop(self) -> Meter:
        wall, cpu, steal = self._t0
        now = time.perf_counter()
        self.wall_s = now - wall
        self.cpu_s = work_cpu_s() - cpu
        self.steal_s = steal_s() - steal
        self.speed = host_speed(wall, now)
        self.ref_cpu_s = self.cpu_s * self.speed
        return self

    __enter__ = start

    def __exit__(self, *exc) -> None:
        self.stop()


class Sampler:
    """A daemon thread, stopped and joined on exit, that over a ``with``
    block runs :func:`reference_unit` every ``interval`` seconds, recording
    (time, thread CPU seconds of the unit), and every ``mem_every``-th
    time samples the peak RSS/PSS of the process tree. It publishes its own
    CPU seconds so that :func:`work_cpu_s` leaves them out."""

    def __init__(self, interval: float = 0.1, mem_every: int = 10):
        self.interval = interval
        self.mem_every = mem_every
        self.peak_mb = 0.0
        self.peak_pss_mb = 0.0
        self.own_cpu_s = 0.0
        self.units: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample_mem(self) -> None:
        rss, pss = tree_mem_mb()
        self.peak_mb = max(self.peak_mb, rss)
        self.peak_pss_mb = max(self.peak_pss_mb, pss)

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            if tick % self.mem_every == 0:
                self._sample_mem()
            c = time.thread_time()
            reference_unit()
            self.units.append((time.perf_counter(), time.thread_time() - c))
            self.own_cpu_s = time.thread_time()
            tick += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> Sampler:
        _samplers.append(self)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
