"""In-memory span recorder for the traced single-threaded pass.

Spans are taken from outside the program: ``install`` replaces chosen
module-level functions of ``go_trafilatura_spark`` (and every alias
another package module imported under the same identity) with wrappers
that record one span per call, and ``uninstall`` puts the originals
back. Nothing inside the program is edited.

Each span holds a name, start and end (``perf_counter_ns`` by default,
or another nanosecond clock such as ``thread_time_ns``), its parent span
and a document id. A function marked as the document root opens a
new document; every span until the next root shares its id. Spans stay
in flat arrays while the pass runs and are written out by ``dump``.
A span's self time is its duration minus the durations of its direct
children.
"""

from __future__ import annotations

import json
import sys
import time
from array import array


class SpanRecorder:
    def __init__(self, clock=time.perf_counter_ns):
        self.clock = clock
        self.names: list[str] = []
        self._name_ids: dict[str, int] = {}
        self.name_id = array("i")
        self.parent = array("i")
        self.doc = array("i")
        self.start = array("q")
        self.end = array("q")
        self.doc_keys: list = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def _nid(self, name: str) -> int:
        nid = self._name_ids.get(name)
        if nid is None:
            nid = self._name_ids[name] = len(self.names)
            self.names.append(name)
        return nid

    def open(self, name: str, doc: int | None = None) -> int:
        """Open a span under the innermost open one; ``doc`` defaults to
        the current document (-1 marks a span outside any document)."""
        idx = len(self.start)
        self.name_id.append(self._nid(name))
        self.parent.append(self._stack[-1] if self._stack else -1)
        self.doc.append(len(self.doc_keys) - 1 if doc is None else doc)
        self.end.append(0)
        self._stack.append(idx)
        self.start.append(self.clock())
        return idx

    def close(self, idx: int) -> None:
        self.end[idx] = self.clock()
        self._stack.pop()

    def wrap(self, name: str, fn, doc_key=None):
        """Wrapper recording a span named ``name`` per call of ``fn``;
        with ``doc_key`` each call opens a new document whose key is
        ``doc_key(*args, **kwargs)``."""
        rec = self

        def traced(*args, **kwargs):
            if doc_key is not None:
                rec.doc_keys.append(doc_key(*args, **kwargs))
            idx = rec.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                rec.close(idx)

        return traced

    def install(self, targets) -> None:
        """``targets``: iterable of (module, attribute, span name,
        doc_key or None). Replaces the attribute and every alias of the
        same function object in the package's loaded modules."""
        pkg_modules = [m for n, m in list(sys.modules.items())
                       if n.startswith("go_trafilatura_spark") and m is not None]
        for module, attr, name, doc_key in targets:
            orig = getattr(module, attr)
            wrapped = self.wrap(name, orig, doc_key)
            for m in pkg_modules:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patches.append((m, k, orig))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for m, k, orig in reversed(self._patches):
            setattr(m, k, orig)
        self._patches.clear()

    def __len__(self):
        return len(self.start)

    def self_times(self) -> dict[str, dict]:
        """Per name: calls, summed self ns and largest single-call self ns."""
        n = len(self.start)
        dur = [self.end[i] - self.start[i] for i in range(n)]
        child = [0] * n
        for i in range(n):
            p = self.parent[i]
            if p >= 0:
                child[p] += dur[i]
        out: dict[str, dict] = {}
        for i in range(n):
            s = out.setdefault(self.names[self.name_id[i]],
                               {"calls": 0, "self_ns": 0, "max_self_ns": 0})
            own = dur[i] - child[i]
            s["calls"] += 1
            s["self_ns"] += own
            if own > s["max_self_ns"]:
                s["max_self_ns"] = own
        return out

    def doc_durations(self, name: str) -> dict:
        """Inclusive duration (ns) of each ``name`` span, keyed by its
        document's key."""
        nid = self._name_ids.get(name, -1)
        return {self.doc_keys[self.doc[i]]: self.end[i] - self.start[i]
                for i in range(len(self.start))
                if self.name_id[i] == nid and self.doc[i] >= 0}

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for i in range(len(self.start)):
                d = self.doc[i]
                f.write(json.dumps({
                    "name": self.names[self.name_id[i]],
                    "start_ns": self.start[i], "end_ns": self.end[i],
                    "parent": self.parent[i], "doc": d,
                    "doc_key": self.doc_keys[d] if d >= 0 else None,
                }) + "\n")
