"""In-memory spans around the program's public layer functions.

`Tracer.install` replaces each listed function with a wrapper that records
a span (name, start, end, parent, op id, thread), in every module of the
package that holds a reference to it, so names imported into callers
(`pipeline.clone.load`, `clone.verify.verify_clone`) are traced as the
caller resolves them; modules imported later bind the wrapper themselves.
`restore` puts every original back.

Parentage follows the calling thread's open spans. Threads the program
starts itself (the clone pipeline's table pool) have no open span of their
own; their spans are parented to the innermost span open on the client
thread, which is the call that started them.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "database_cloner_spark"

# (module, attribute) of every traced entry point, with its span name.
TARGETS = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.parquet", "load", "sources.load"),
    ("pipeline.clone", "ClonePipeline.run", "pipeline.clone"),
    ("pipeline.verify", "verify_clone", "pipeline.verify.verify_clone"),
    ("pipeline.verify", "fingerprint", "pipeline.verify.fingerprint"),
    ("pipeline.verify", "write_round_trip", "pipeline.verify.write_round_trip"),
    ("pipeline.reports", "write_text_report", "pipeline.reports.write_text_report"),
    ("pipeline.probe", "test_user_connections", "pipeline.probe.test_user_connections"),
    ("pipeline.incremental", "incremental_clone", "pipeline.incremental.incremental_clone"),
    ("pipeline.incremental", "changed_chunks", "pipeline.incremental.changed_chunks"),
    ("streaming.cdc", "apply_cdc_batch", "streaming.cdc.apply_cdc_batch"),
]
LLM_MODULES = (
    "llm.dedup", "llm.similarity", "llm.text", "llm.textprep", "llm.packing",
    "llm.multimodal",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: str
    thread: int


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.op = ""
        self._client = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    def _open(self, name: str) -> int:
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                client = self._stacks.get(self._client) or [-1]
                parent = client[-1]
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op, tid))
            idx = len(self.spans) - 1
            stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        end = time.perf_counter()
        with self._lock:
            self.spans[idx].end = end
            self._stacks[threading.get_ident()].pop()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(idx)

        traced.__perfbench_original__ = fn
        traced.__perfbench_tracer__ = self
        return traced

    # -- installing ---------------------------------------------------------

    def install(self, targets=None) -> None:
        """Wrap every (module, attribute, span name) of `targets`, which
        defaults to `default_targets()`."""
        for mod, attr, name in targets or default_targets():
            owner = importlib.import_module(f"{PACKAGE}.{mod}")
            if "." in attr:
                cls, attr = attr.split(".")
                self._patch(getattr(owner, cls), attr, name)
                continue
            original = getattr(owner, attr)
            for m in _package_modules():
                if getattr(m, attr, None) is original:
                    self._patch(m, attr, name)

    def _patch(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def restore(self) -> None:
        """Put every original back, including in modules imported while the
        wrappers were installed, which bound a wrapper by name."""
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()
        for m in _package_modules():
            for attr, v in list(vars(m).items()):
                while getattr(v, "__perfbench_tracer__", None) is self:
                    v = v.__perfbench_original__
                    setattr(m, attr, v)

    # -- analysis -----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            children.setdefault(s.parent, []).append(i)
        out = []
        for i, s in enumerate(self.spans):
            ivs = sorted(
                (max(self.spans[c].start, s.start), min(self.spans[c].end, s.end))
                for c in children.get(i, ())
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(s.end - s.start - covered)
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [dict(asdict(s), self=st) for s, st in zip(self.spans, selfs)]


def _package_modules() -> list:
    return [m for name, m in list(sys.modules.items())
            if m is not None and name.startswith(PACKAGE)]


def default_targets() -> list[tuple[str, str, str]]:
    """TARGETS plus every public function of the llm modules."""
    out = list(TARGETS)
    for mod in LLM_MODULES:
        m = importlib.import_module(f"{PACKAGE}.{mod}")
        for attr, v in sorted(vars(m).items()):
            if inspect.isfunction(v) and v.__module__ == m.__name__ and not attr.startswith("_"):
                out.append((mod, attr, f"{mod}.{attr}"))
    return out


def is_restored() -> bool:
    """True when no module or class of the package holds a wrapper."""
    for m in _package_modules():
        for v in list(vars(m).values()):
            owners = [v] + ([c for c in vars(v).values()] if isinstance(v, type) else [])
            if any(hasattr(o, "__perfbench_original__") for o in owners):
                return False
    return True
