"""Outside-in measurement: samplers and span tracing.

Nothing here hooks the engine. The samplers watch the process tree in
``/proc`` and the crawl store on disk; the tracer wraps the engine's
public functions from the benchmark's side and restores them afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- samplers -------------------------------------------------------------------


class _Poller:
    """A daemon thread calling ``self.poll()`` every ``interval`` seconds."""

    interval: float

    def __init__(self) -> None:
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self.interval)

    def poll(self) -> None:
        raise NotImplementedError

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.poll()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0  # exited since the last scan


class RssSampler(_Poller):
    """Peak resident memory of the Spark JVM plus its Python workers.

    Samples every 100 ms; the process tree is rescanned once a second."""

    interval = 0.1

    def __init__(self, jvm_pid: int) -> None:
        super().__init__()
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._pids: list[int] = []
        self._scanned = 0.0

    def poll(self) -> None:
        now = time.monotonic()
        if now - self._scanned > 1.0:
            self._pids = tree_pids(self.jvm_pid)
            self._scanned = now
        self.peak = max(self.peak, sum(map(rss_bytes, self._pids)))


class ManifestWatcher(_Poller):
    """First time each ``manifests/round-R.json`` appears in a store."""

    interval = 0.01

    def __init__(self, store_root: str) -> None:
        super().__init__()
        self.dir = os.path.join(store_root, "manifests")
        self.seen: dict[int, float] = {}

    def poll(self) -> None:
        now = time.perf_counter()
        try:
            names = os.listdir(self.dir)
        except FileNotFoundError:
            return
        for n in names:
            if n.startswith("round-") and n.endswith(".json"):
                self.seen.setdefault(int(n[6:-5]), now)


def cpu_times() -> list[int]:
    """The machine's ``/proc/stat`` cpu line: user, nice, system, idle,
    iowait, irq, softirq, steal (in clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def walk_store(root: str) -> dict:
    """Bytes and files on disk: whole store, and per committed round
    (every ``<table>/round=R`` directory plus the round's manifest)."""
    total_bytes = 0
    per_round: dict[int, list[int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root).split(os.sep)
        rnd = None
        if len(rel) >= 2 and rel[1].startswith("round="):
            rnd = int(rel[1][6:])
        for f in files:
            size = os.path.getsize(os.path.join(dirpath, f))
            total_bytes += size
            r = rnd
            if rel == ["manifests"] and f.startswith("round-"):
                r = int(f[6:].split(".")[0])
            if r is not None:
                acc = per_round.setdefault(r, [0, 0])
                acc[0] += 1
                acc[1] += size
    return {"bytes": total_bytes, "per_round": per_round}


# -- tracing ----------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, parent, name, start, end, thread, attrs).

    Spans opened on a thread with no open span are parented to the
    tracer's current root span, so the commit writer threads of a crawl
    round nest under the ``run_crawl`` call that spawned them."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": stack[-1] if stack else self._root,
                   "name": name, "start": time.perf_counter(), "end": None,
                   "thread": threading.get_ident(), "run": self.run_id,
                   **attrs}
            self.spans.append(rec)
        stack.append(sid)
        root_before = self._root
        if rec["parent"] is None:
            self._root = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._root = root_before

    # -- wrapping public functions ---------------------------------------------

    def wrap(self, owner, attr: str, name: str, attrs_of=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``attrs_of(args, kwargs)`` adds span attributes; ``after(result,
        args, kwargs)`` runs outside the span (for trace-only work whose
        cost must not be charged to the layer)."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            extra = attrs_of(args, kwargs) if attrs_of else {}
            with self.span(name, **extra):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patched.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- reporting ----------------------------------------------------------------

    def total(self, name: str, where=None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and (where is None or where(s)))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover.

        A layer is a span name without its last component
        (``crawl.store.write_round_table`` -> ``crawl.store``)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, hi = 0.0, s["start"]
            for lo, end in sorted((c["start"], c["end"])
                                  for c in kids.get(s["id"], ())):
                lo, end = max(lo, hi), min(end, s["end"])
                if end > lo:
                    covered += end - lo
                    hi = end
            layer = s["name"].rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
