"""In-memory span recorder used by the traced run.

A span is (name, start, end, parent span id, request id, attrs). Spans
stay in memory and are written as JSON lines when the traced process
ends. Wrapping happens from the benchmark's own files, around calls into
the repo's public functions; no repo code is changed."""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, rid_fn=None, attrs_fn=None,
             pre_attrs_fn=None) -> None:
        """Replace ``owner.attr`` (a class or module attribute) with a
        span-recording wrapper. ``rid_fn(args, kwargs)`` names the
        request (default: the enclosing span's); ``pre_attrs_fn(args,
        kwargs)`` and ``attrs_fn(args, kwargs, result)`` return extra
        fields recorded on the span, read before and after the call."""
        raw = owner.__dict__[attr]
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else 0
            rid = rid_fn(args, kwargs) if rid_fn else (stack[-1][1] if stack else None)
            stack.append((sid, rid))
            extra = pre_attrs_fn(args, kwargs) if pre_attrs_fn else {}
            t0 = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                stack.pop()
                if attrs_fn:
                    extra.update(attrs_fn(args, kwargs, result))
                tracer.spans.append((name, t0, t1, sid, parent, rid, extra))

        setattr(owner, attr, staticmethod(traced) if is_static else traced)

    def dump(self, path: str) -> None:
        with open(path + ".tmp", "w") as f:
            for name, t0, t1, sid, parent, rid, extra in list(self.spans):
                f.write(json.dumps({"name": name, "start": t0, "end": t1, "id": sid,
                                    "parent": parent, "rid": rid,
                                    **extra}) + "\n")
        os.replace(path + ".tmp", path)


def load_spans(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
