"""Service-execution tracing — parity with the reference's
``sema/commons/service`` model (`/root/reference/sema/commons/service/
model.py:10-201`): ``ServiceResult`` truthiness, ``StatusMonitor``,
re-entry guarding (``TraceMode`` once/keep/refresh +
``RestartException``) and decorator-mixed event capture.

Re-expressed for the batch engine rather than translated: events are
plain records that can be exported as an ``(event, status, ts)``
DataFrame (:meth:`Trace.events_df`). That is not the pipeline's
``stage_metrics`` schema (``METRICS_SCHEMA``, rows per part file), so
events are kept apart from those rows (SURVEY.md §2.10 E8).
Driver-side only by design — a trace records orchestration events
(stage started, config resolved, sink written), never per-row data.
"""

from __future__ import annotations

import datetime as _dt
from abc import ABC, abstractmethod
from enum import Enum
from functools import wraps
from typing import Any, Callable, Optional


class ServiceResult(ABC):
    """Base for a service execution's outcome; usable as a boolean
    (reference model.py:10-21)."""

    @property
    @abstractmethod
    def success(self) -> bool: ...

    def __bool__(self) -> bool:
        return self.success


class StatusMonitor(ABC):
    """Anything whose ``status`` snapshot should ride along with each
    traced event (reference model.py:24-35) — typically the service or
    its result object."""

    @property
    @abstractmethod
    def status(self) -> Any: ...


class RestartException(Exception):
    """Raised when a once-only service is entered twice
    (reference model.py:38-42)."""

    def __init__(self, service_name: str):
        super().__init__(f"Service {service_name} is already running")


class TraceMode(Enum):
    """Re-entry policy for :func:`trace_init`
    (reference model.py:45-54)."""

    ONCE = "once"  # second call raises RestartException
    KEEP = "keep"  # reuse the existing trace across calls
    REFRESH = "refresh"  # new trace object per call


class TraceEvent:
    """One recorded call: name, return value, arguments
    (reference model.py:77-88)."""

    # underscore-prefixed params (as the reference uses) so a traced
    # method's own kwargs named "name"/"returns" can't collide with them
    def __init__(
        self, _trace_name: str, _trace_return: Any = None, *args, **kwargs
    ):
        self.name = _trace_name
        self.returns = _trace_return
        self.listargs = args
        self.dictargs = kwargs

    def __repr__(self) -> str:
        return (
            f"TraceEvent({self.name!r}, {self.listargs}, "
            f"{self.dictargs}) -> {self.returns!r}"
        )


class Trace:
    """Event log for one service execution."""

    def __init__(self, monitor: Optional[StatusMonitor] = None):
        self._events: list[dict] = []
        self._monitor = monitor

    def add_event(self, event: TraceEvent) -> None:
        self._events.append(
            {
                "event": event,
                "status": self._monitor.status if self._monitor else None,
                "ts": _dt.datetime.now(_dt.timezone.utc).replace(
                    tzinfo=None
                ),
            }
        )

    @property
    def events(self) -> list[dict]:
        return self._events

    def events_df(self, spark):
        """The trace as ``(event, status, ts)`` rows, one per event."""
        rows = [
            (e["event"].name, str(e["status"]), e["ts"])
            for e in self._events
        ]
        return spark.createDataFrame(
            rows, "event string, status string, ts timestamp"
        )

    @staticmethod
    def extract(target) -> "Trace":
        return getattr(target, "_trace")

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self._events})"


def trace_init(
    mode: TraceMode = TraceMode.ONCE,
    monitor_attr: Optional[str] = None,
    trace_cls: type = Trace,
):
    """Decorate a service entry point to (re)initialize ``self._trace``
    under the given re-entry policy (reference model.py:132-183):
    ``ONCE`` raises :class:`RestartException` on a second call,
    ``KEEP`` reuses the first trace, ``REFRESH`` starts a new one.
    The monitor is ``getattr(self, monitor_attr)`` when given, else
    ``self`` when it is a :class:`StatusMonitor`."""

    def deco(fn: Callable):
        @wraps(fn)
        def wrapper(self, *args, **kwargs):
            if mode is TraceMode.ONCE and hasattr(self, "_trace"):
                raise RestartException(type(self).__name__)
            if mode is not TraceMode.KEEP or not hasattr(self, "_trace"):
                monitor = (
                    getattr(self, monitor_attr, None)
                    if monitor_attr
                    else None
                )
                if monitor is None and isinstance(self, StatusMonitor):
                    monitor = self
                if monitor is not None and not isinstance(
                    monitor, StatusMonitor
                ):
                    raise TypeError(
                        f"{type(monitor).__name__} is not a StatusMonitor"
                    )
                self._trace = trace_cls(monitor)
            return fn(self, *args, **kwargs)

        return wrapper

    return deco


def traced(name: Optional[str] = None, event_cls: type = TraceEvent):
    """Decorate a service method so each call appends a
    :class:`TraceEvent` (with the return value and a status snapshot)
    to ``self._trace`` (reference model.py:94-130). A method on an
    object without a trace runs untraced rather than failing."""
    if not issubclass(event_cls, TraceEvent):
        raise TypeError("event_cls must subclass TraceEvent")

    def deco(fn: Callable):
        evt_name = name or fn.__name__

        @wraps(fn)
        def wrapper(self, *args, **kwargs):
            resp = fn(self, *args, **kwargs)
            trace = getattr(self, "_trace", None)
            if trace is not None:
                trace.add_event(event_cls(evt_name, resp, *args, **kwargs))
            return resp

        return wrapper

    return deco
