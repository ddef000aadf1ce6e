"""Sliding-window quota tracker with the reference's exact admit/record
semantics (p4/server/my_quota_tracker.cc:44-77):

 - events older than ``duration`` are evicted from the tail;
 - admission iff sum(live amounts) + amount <= max;
 - ADMITTED events are recorded, REJECTED ones are not (so a blocked
   download doesn't poison later requests -- asserted by
   p4/scripts/p4.py:81-83).

This is deliberately a tiny pure-Python state machine: quota state is
bounded per-user metadata (like the reference's in-memory deques), and
the charge *ordering* it enforces (request before upload/download,
download sized after the read) is API-layer logic Catalyst can't own.
The declarative/batch form of the same computation is
plans.kvqueries.quota_sliding_window; the streaming form is
streaming.quota_stream.
"""

from __future__ import annotations

import threading
from collections import deque
from dataclasses import dataclass, field


@dataclass
class QuotaTracker:
    amount: int          # max units per window
    duration: float      # window seconds
    events: deque = field(default_factory=deque)  # (when, amount), oldest first
    # sum of the amounts in events, kept as events enter and leave: a
    # check costs O(evicted), not O(events in the window)
    live: int = field(init=False, repr=False, compare=False)
    # the engine serves concurrent clients (the reference guards quota
    # state with the owning table-entry lock); check-then-record must be
    # atomic or two admits can both read the same "live" sum
    _lock: threading.Lock = field(default_factory=threading.Lock,
                                  repr=False, compare=False)

    def __post_init__(self) -> None:
        self.live = sum(a for _, a in self.events)

    def check_add(self, add: int, when: float) -> bool:
        with self._lock:
            while self.events and self.events[0][0] <= when - self.duration:
                self.live -= self.events.popleft()[1]
            if self.live + add > self.amount:
                return False
            self.events.append((when, add))
            self.live += add
            return True


@dataclass
class Quotas:
    """Per-user quota triple (p4/server/quotas.h:6-17)."""

    uploads: QuotaTracker
    downloads: QuotaTracker
    requests: QuotaTracker

    @classmethod
    def build(cls, up: int, down: int, req: int, interval: float) -> "Quotas":
        return cls(
            uploads=QuotaTracker(up, interval),
            downloads=QuotaTracker(down, interval),
            requests=QuotaTracker(req, interval),
        )
