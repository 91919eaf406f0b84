"""Retry with exponential backoff (SURVEY.md B8; reference README.md:87-88,
383-384).

The reference's contract: throttled writes retry with exponential backoff
(1 s -> 32 s) for a bounded number of attempts, then the error surfaces to
the caller, which escalates — records are never dropped silently ("zero
records lost", README.md:204).

In Spark the first layer is task retries (spark.task.maxFailures); this
module is the second, sink-level layer for a whole-batch commit (manifest
write, external store PUT) that can fail transiently. Corrupt records are
a different path: both lake flushes route them to the ``errors/`` DLQ
themselves (README.md:155-156).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any


def retry_with_backoff(
    fn: Callable[[], Any],
    attempts: int = 7,
    base_delay: float = 1.0,
    max_delay: float = 32.0,
    retriable: tuple[type[BaseException], ...] = (Exception,),
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Run ``fn`` with exponential backoff: delays 1, 2, 4, ... capped at
    max_delay (the reference's 1 s -> 32 s ladder, README.md:88). Re-raises
    the last error after ``attempts`` tries — the caller escalates. The
    default of 7 attempts is the smallest count whose ladder actually
    REACHES the 32 s cap (delays 1,2,4,8,16,32); 6 would stop at 16 s and
    under-deliver the documented contract."""
    if attempts < 1:
        # a zero-iteration loop would return None WITHOUT running fn — the
        # work would be neither done nor escalated, silently lost
        raise ValueError(f"retry_with_backoff: attempts must be >= 1, got {attempts}")
    # clamp the FIRST delay too: base_delay above the cap otherwise yields
    # a DECREASING ladder (60, 32, 32, ...) — backoff in reverse
    delay = min(base_delay, max_delay)
    for attempt in range(attempts):
        try:
            return fn()
        except retriable:
            if attempt == attempts - 1:
                raise
            sleep(delay)
            delay = min(delay * 2, max_delay)
