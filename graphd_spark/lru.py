"""The one bounded memo behind every driver-side cache."""

from __future__ import annotations

from collections import OrderedDict


class LRU(OrderedDict):
    """A dict of at most ``cap`` entries.  ``get`` and ``put`` mark a
    key as recently used; ``put`` evicts the least recently used entry
    beyond the cap.  An unhashable key raises ``TypeError``."""

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap

    def get(self, key, default=None):
        if key not in self:
            return default
        self.move_to_end(key)
        return self[key]

    def put(self, key, value):
        self[key] = value
        self.move_to_end(key)
        if len(self) > self.cap:
            self.popitem(last=False)
        return value
