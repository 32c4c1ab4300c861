"""Events surface: tumbling, sliding and session windows and
click→purchase attribution over a bounded DataFrame (SURVEY §2.7
extension)."""

from .events import (  # noqa: F401
    session_windows_batch,
    sliding_window_batch,
    tumbling_window_batch,
)
