"""Spans recorded around calls into the engine's modules.

:meth:`Tracer.install` wraps every public function of the package's
modules, in place and in every module namespace that imported it, so a
call from the benchmark or from one engine module into another records
a span: name (``module.function``), start, end, parent span, op id, and
the Spark job-id counter at both ends.  :meth:`Tracer.uninstall` puts
the original functions back, so untraced rounds pay nothing.  Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import threading
import time
from collections import defaultdict

PACKAGE = "data__converter_spark"
MODULES = [
    "compare", "mask", "pattern", "schema", "stats", "joins", "temporal",
    "graph", "ivm", "scale", "io.readers", "io.writers", "io.convert",
    "io.pdf", "io.xlsx_lite", "llmops.dedup", "llmops.similarity",
    "llmops.textstats", "llmops.sketches", "llmops.quality",
    "llmops.pipeline", "streaming.runner", "streaming.stateful",
    "streaming.windows",
]


def layer_of(module: str) -> str:
    """Layer name of a module: ``io.*`` is one layer, ``llmops.x`` is ``x``."""
    if module.startswith("io."):
        return "io"
    return module.rsplit(".", 1)[-1]


class Tracer:
    def __init__(self, job_id) -> None:
        self.job_id = job_id  # () -> next Spark job id
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.cost_s = 0.0  # time spent recording, inside the traced rounds
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- span recording -------------------------------------------------
    def span(self, name: str, layer: str, kind: str):
        return _Span(self, name, layer, kind)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- monkeypatching -------------------------------------------------
    def install(self) -> None:
        mods = {m: importlib.import_module(f"{PACKAGE}.{m}") for m in MODULES}
        wrappers = {}
        for m, mod in mods.items():
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    wrappers[fn] = self._wrap(fn, f"{m}.{attr}", layer_of(m))
        for mod in mods.values():
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrappers:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrappers[val])

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, "call"):
                return fn(*args, **kwargs)

        return traced

    # -- analysis -------------------------------------------------------
    def self_costs(self) -> list[dict]:
        """Each span with ``self_s`` and ``self_jobs``: its own duration and
        job count minus what its direct children account for."""
        child_s = defaultdict(float)
        child_jobs = defaultdict(int)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
                child_jobs[s["parent"]] += s["jobs1"] - s["jobs0"]
        out = []
        for i, s in enumerate(self.spans):
            d = dict(s)
            d["self_s"] = max(0.0, s["end"] - s["start"] - child_s[i])
            d["self_jobs"] = max(0, s["jobs1"] - s["jobs0"] - child_jobs[i])
            out.append(d)
        return out


class _Span:
    __slots__ = ("t", "name", "layer", "kind", "idx")

    def __init__(self, tracer: Tracer, name: str, layer: str, kind: str) -> None:
        self.t, self.name, self.layer, self.kind = tracer, name, layer, kind

    def __enter__(self):
        c0 = time.perf_counter()
        t = self.t
        stack = t._stack()
        rec = {
            "name": self.name, "layer": self.layer, "kind": self.kind,
            "op": t.op_id, "parent": stack[-1] if stack else None,
            "jobs0": t.job_id(), "start": time.perf_counter(),
        }
        with t._lock:
            self.idx = len(t.spans)
            t.spans.append(rec)
        stack.append(self.idx)
        with t._lock:
            t.cost_s += time.perf_counter() - c0
        return self

    def __exit__(self, *exc) -> None:
        t = self.t
        rec = t.spans[self.idx]
        rec["end"] = time.perf_counter()
        rec["jobs1"] = t.job_id()
        t._stack().pop()
        with t._lock:
            t.cost_s += time.perf_counter() - rec["end"]
