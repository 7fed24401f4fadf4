"""Span recorder for the traced run.

``Tracer.install()`` wraps the public functions of the program's layer
modules (and the Spark actions on DataFrame) with span recorders; the
program itself is not changed. A span records name, layer, start, end,
parent span and request id. Spans stay in memory until the run ends;
``layer_self_times`` then computes each layer's self time: a span's
duration minus the part its child spans cover.

Spark actions additionally read the Catalyst phase times of the plan
they ran from ``QueryExecution.tracker()``. ``install`` and
``uninstall`` may be called repeatedly, so the cost of tracing can be
measured by running the same work with and without the recorders.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# modules whose public functions and classes get span wrappers; the
# layer is the package segment after ``jane_spark``
LAYER_MODULES = (
    "jane_spark.engine.session",
    "jane_spark.engine.catalog",
    "jane_spark.engine.ckpt",
    "jane_spark.plans.predicates",
    "jane_spark.plans.schema",
    "jane_spark.services.fdsnws",
    "jane_spark.services.rest_api",
    "jane_spark.services.waveform_cut",
    "jane_spark.sources.index_store",
    "jane_spark.sources.ingest",
    "jane_spark.streaming.ingest",
    "jane_spark.streaming.upsert",
    "jane_spark.functions.geo",
    "jane_spark.operators.*",
)
SPARK_ACTIONS = ("collect", "toPandas", "count", "isEmpty", "first", "take",
                 "localCheckpoint", "checkpoint")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self) -> None:
        # (name, layer, start, end, parent, rid); index = span id
        self.spans: list[list] = []
        self.phase_ms: dict[object, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def rid(self):
        return getattr(self._local, "rid", None)

    @contextmanager
    def request(self, rid):
        """Tag every span opened by this thread with ``rid``."""
        prev = self.rid
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    def _open(self, name: str, layer: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append([name, layer, time.perf_counter(), None, parent, self.rid])
        st.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid][3] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        sid = self._open(name, layer)
        try:
            yield
        finally:
            self._close(sid)

    # --------------------------------------------------------- wrapping

    def wrap(self, fn, name: str, layer: str):
        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                with self.span(name, layer):
                    yield from fn(*a, **kw)
            return gen_wrapper

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)
        return wrapper

    def _wrap_action(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def action(df, *a, **kw):
            try:
                with tracer.span(name, "spark"):
                    return fn(df, *a, **kw)
            finally:
                tracer._record_phases(df)
        return action

    def _record_phases(self, df) -> None:
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:  # a plan without a tracker: nothing to record
            return
        acc = self.phase_ms[self.rid]
        for ph in PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                acc[ph] += float(opt.get().durationMs())

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public function and class method of the layer
        modules, rebinding each name wherever a loaded ``jane_spark``
        module imported it, and wrap the DataFrame actions. Does nothing
        if they are already installed."""
        import importlib
        import pkgutil

        if self._patched:
            return
        names: list[str] = []
        for m in LAYER_MODULES:
            if m.endswith(".*"):
                pkg = importlib.import_module(m[:-2])
                names += [f"{pkg.__name__}.{i.name}" for i in pkgutil.iter_modules(pkg.__path__)]
            else:
                names.append(m)
        originals: dict[int, object] = {}
        for mod_name in names:
            mod = importlib.import_module(mod_name)
            layer = mod_name.split(".")[1]
            label = mod_name.split(".", 1)[1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                    continue
                if inspect.isfunction(obj):
                    originals[id(obj)] = self.wrap(obj, f"{label}.{attr}", layer)
                elif inspect.isclass(obj):
                    for meth, f in list(vars(obj).items()):
                        if inspect.isfunction(f) and not meth.startswith("_"):
                            self._patch(obj, meth, self.wrap(f, f"{label}.{attr}.{meth}", layer))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("jane_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    self._patch(mod, attr, w)

        df_cls = _dataframe_class()
        for act in SPARK_ACTIONS:
            self._patch(df_cls, act, self._wrap_action(getattr(df_cls, act), f"spark.{act}"))
        orig_iter = df_cls.toLocalIterator
        tracer = self

        def to_local_iterator(df, *a, **kw):
            with tracer.span("spark.toLocalIterator", "spark"):
                yield from orig_iter(df, *a, **kw)
            tracer._record_phases(df)

        self._patch(df_cls, "toLocalIterator", to_local_iterator)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -------------------------------------------------------- analysis

    def self_times(self, since: int, bucket) -> dict[object, dict[str, float]]:
        """{rid: {bucket: self seconds}} over spans recorded from span id
        ``since`` on, where ``bucket(name, layer)`` names the group a
        span's self time goes to (None drops it). A span's self time is
        its duration minus the time its child spans cover."""
        spans = self.spans[since:]
        child = defaultdict(float)
        for s in spans:
            if s[4] is not None and s[4] >= since and s[3] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict[object, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(spans, start=since):
            b = bucket(s[0], s[1])
            if b is not None and s[3] is not None:
                out[s[5]][b] += (s[3] - s[2]) - child[i]
        return out

    def total_s(self, names: tuple[str, ...], since: int = 0) -> float:
        """Summed duration of the spans named in ``names``."""
        return sum(s[3] - s[2] for s in self.spans[since:] if s[0] in names and s[3] is not None)


def _dataframe_class():
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # PySpark before the classic/connect split
        from pyspark.sql import DataFrame
    return DataFrame
