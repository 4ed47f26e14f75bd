"""In-memory spans around calls into the program's public functions.

A span is (name, start, end, parent, run id). ``Tracer.patch`` wraps a
module attribute (or a class method) so every call made through it while
tracing is on opens a span; the program's files are not touched. Spans are
kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def patch(self, owner, attr: str, name: str | None = None,
              label=None) -> None:
        """Route ``owner.attr`` through a span named ``name`` (or
        ``label(*args)`` when given) until :meth:`unpatch`."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(label(*args, **kwargs) if label else name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def self_times(self, root: int) -> tuple[dict[str, float], float]:
        """Self time per span name below ``root`` (duration minus the time
        its children cover), and the root's own uncovered time. Children of
        one parent run sequentially in this single-threaded caller, so the
        covered time is the sum of their durations."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(i)

        def dur(i):
            return self.spans[i]["end"] - self.spans[i]["start"]

        def own(i):
            return dur(i) - sum(dur(k) for k in kids.get(i, []))

        out: dict[str, float] = {}
        todo = list(kids.get(root, []))
        while todo:
            i = todo.pop()
            name = self.spans[i]["name"]
            out[name] = out.get(name, 0.0) + own(i)
            todo.extend(kids.get(i, []))
        return out, own(root)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)
