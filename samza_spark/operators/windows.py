"""Window & trigger specifications.

Mirrors Samza's windowing API (/root/reference samza-api/.../operators/
windows/Windows.java:128-295, triggers/Triggers.java:54-106,
windows/AccumulationMode.java). Samza supports only TUMBLING and SESSION
window types (windows/internal/WindowType.java:21-22); we additionally allow
SLIDING because Spark offers it natively (a parity superset, SURVEY.md §2.2).

Execution strategy (chosen by :meth:`samza_spark.operators.stream.
MessageStream.window`):

* plain tumbling/sliding/session windows with no early triggers -> native
  ``groupBy(window(...))`` / ``session_window`` — fully Catalyst-optimised,
  map-side partial aggregation, no Python in the path.
* early triggers (count / time-since-first / time-since-last / any / repeat)
  or DISCARDING accumulation -> the custom stateful operator in
  :mod:`samza_spark.streaming.stateful` (applyInPandasWithState), because
  Catalyst has no per-pane trigger analog (SURVEY.md §4.2 item 1).

Samza evaluates windows on processing time and drops nothing ("We don't
handle late arrivals yet", WindowOperatorImpl.java:278); we default to event
time + watermark, a strictly stronger semantics (SURVEY.md §2.2).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence


class AccumulationMode(enum.Enum):
    """windows/AccumulationMode.java — pane emission keeps or purges state."""

    ACCUMULATING = "accumulating"
    DISCARDING = "discarding"


class WindowType(enum.Enum):
    TUMBLING = "tumbling"
    SESSION = "session"
    SLIDING = "sliding"  # Spark-native extension (not in Samza's DSL)


@dataclass(frozen=True)
class Trigger:
    """A firing policy. kinds: count | time_since_first | time_since_last |
    any | repeat (Triggers.java:54-106)."""

    kind: str
    count: int | None = None
    duration: str | None = None
    children: tuple["Trigger", ...] = ()


class Triggers:
    """Factory matching Samza's Triggers API (Triggers.java)."""

    @staticmethod
    def count(n: int) -> Trigger:
        return Trigger("count", count=n)

    @staticmethod
    def time_since_first_message(duration: str) -> Trigger:
        return Trigger("time_since_first", duration=duration)

    @staticmethod
    def time_since_last_message(duration: str) -> Trigger:
        return Trigger("time_since_last", duration=duration)

    @staticmethod
    def any(*triggers: Trigger) -> Trigger:
        return Trigger("any", children=tuple(triggers))

    @staticmethod
    def repeat(trigger: Trigger) -> Trigger:
        return Trigger("repeat", children=(trigger,))


@dataclass
class WindowSpec:
    """A fully-described window; produced by :class:`Windows` factories."""

    window_type: WindowType
    ts_col: str
    duration: str | None = None  # tumbling/sliding length
    slide: str | None = None  # sliding only
    gap: str | None = None  # session only
    key_cols: Sequence[str] = field(default_factory=tuple)
    early_trigger: Optional[Trigger] = None
    late_trigger: Optional[Trigger] = None  # declared-but-never-fires in Samza
    accumulation: AccumulationMode = AccumulationMode.ACCUMULATING
    watermark: str | None = None
    fold_init: object | None = None
    fold_fn: Callable | None = None

    def set_early_trigger(self, t: Trigger) -> "WindowSpec":
        self.early_trigger = t
        return self

    def set_late_trigger(self, t: Trigger) -> "WindowSpec":
        self.late_trigger = t
        return self

    def set_accumulation_mode(self, mode: AccumulationMode) -> "WindowSpec":
        self.accumulation = mode
        return self

    def with_watermark(self, delay: str) -> "WindowSpec":
        """Event-time lateness bound for the native window path. The
        triggered path (early triggers or DISCARDING) closes windows on
        processing time, as Samza does, and ignores this delay: a late row
        folds into a new window instead of being dropped."""
        self.watermark = delay
        return self

    @property
    def needs_stateful_operator(self) -> bool:
        return self.early_trigger is not None or (
            self.accumulation is AccumulationMode.DISCARDING
        )


class Windows:
    """Factories mirroring Windows.java:128-295."""

    @staticmethod
    def tumbling_window(ts_col: str, interval: str) -> WindowSpec:
        """Non-keyed fixed windows (Windows.java:191)."""
        return WindowSpec(WindowType.TUMBLING, ts_col, duration=interval)

    @staticmethod
    def keyed_tumbling_window(
        key_cols: Sequence[str] | str, ts_col: str, interval: str
    ) -> WindowSpec:
        """Per-key fixed windows (Windows.java:128)."""
        keys = (key_cols,) if isinstance(key_cols, str) else tuple(key_cols)
        return WindowSpec(WindowType.TUMBLING, ts_col, duration=interval, key_cols=keys)

    @staticmethod
    def keyed_session_window(
        key_cols: Sequence[str] | str, ts_col: str, gap: str
    ) -> WindowSpec:
        """Per-key session windows, gap-closed (Windows.java:259)."""
        keys = (key_cols,) if isinstance(key_cols, str) else tuple(key_cols)
        return WindowSpec(WindowType.SESSION, ts_col, gap=gap, key_cols=keys)

    @staticmethod
    def keyed_sliding_window(
        key_cols: Sequence[str] | str, ts_col: str, length: str, slide: str
    ) -> WindowSpec:
        """Spark-native extension: hopping windows (no Samza analog)."""
        keys = (key_cols,) if isinstance(key_cols, str) else tuple(key_cols)
        return WindowSpec(
            WindowType.SLIDING, ts_col, duration=length, slide=slide, key_cols=keys
        )
