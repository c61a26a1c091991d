"""Document profiles + request-profile bitset (SURVEY.md §2 A32).

Mirrors reference ``src/remote/profile.rs:7-127``: the six JSON-LD
media-type profiles (``src/remote/profile.rs:7-20``, URIs ``:23-39``) and
the ``RequestProfile`` u8-bitset set type (``:70-91``) the reference's
loader options use for HTTP content negotiation (``src/remote.rs:49-109``).

The reference stores the set as a single byte with one bit per variant
(``single_bit``, ``profile.rs:42-52``); equality/iteration are therefore
order-insensitive and duplicate-insensitive — properties this Python
mirror preserves (and tests pin, in the spirit of the reference's
``container_eq_unordered`` test for its other bitset).

In the pipeline these are constants only: the loader is dictionary-backed
(contexts.py) and never negotiates content types, exactly like the
reference's own remote path is unreachable (quirk R1) — so observable
parity is the constant surface itself.
"""

from __future__ import annotations

from enum import Enum
from typing import Iterable, Optional


_PROFILE_URI_BASE = "http://www.w3.org/ns/json-ld#"


class Profile(Enum):
    """The six document profiles — src/remote/profile.rs:7-20 (bit shifts
    :42-52, declaration order == variant order :55-66)."""

    COMPACTED = 0
    CONTEXT = 1
    EXPANDED = 2
    FLATTENED = 3
    FRAME = 4
    FRAMED = 5

    @property
    def uri(self) -> str:
        """Profile URI — src/remote/profile.rs:23-39."""
        return _PROFILE_URI_BASE + self.name.lower()

    @property
    def single_bit(self) -> int:
        """Distinct single-bit encoding — src/remote/profile.rs:42-52."""
        return 1 << self.value


class RequestProfile:
    """Set of profiles as a u8 bitfield — src/remote/profile.rs:70-91.

    Construction mirrors the reference's ``From<Profile>`` /
    ``FromIterator`` / ``Extend`` impls (:99-126); equality and hashing are
    on the bitfield, hence order- and duplicate-insensitive.
    """

    __slots__ = ("_bits",)

    def __init__(self, profiles: Optional[Iterable[Profile]] = None) -> None:
        self._bits = 0
        if profiles is not None:
            self.extend(profiles)

    @classmethod
    def from_profile(cls, profile: Profile) -> "RequestProfile":
        rp = cls()
        rp._bits = profile.single_bit
        return rp

    def extend(self, profiles: Iterable[Profile]) -> None:
        for p in profiles:
            self._bits |= p.single_bit

    def contains(self, profile: Profile) -> bool:
        return bool(self._bits & profile.single_bit)

    def __contains__(self, profile: Profile) -> bool:
        return self.contains(profile)

    def __iter__(self):
        """Iterates in variant-declaration order regardless of insertion
        order — src/remote/profile.rs:87-91 filters ``variants()``."""
        return (p for p in Profile if self.contains(p))

    def __eq__(self, other) -> bool:
        return isinstance(other, RequestProfile) and self._bits == other._bits

    def __hash__(self) -> int:
        return hash(("RequestProfile", self._bits))

    def __repr__(self) -> str:
        return "{" + ", ".join(p.name for p in self) + "}"

