"""One parse for the library's on/off environment flags."""

from __future__ import annotations

_OFF = frozenset({"0", "false", "no", "off"})


def flag_off(value: str | None) -> bool:
    """True iff ``value`` spells off: 0/false/no/off in any case, surrounding
    whitespace ignored. Unset (None) and every other value count as on."""
    return value is not None and value.strip().lower() in _OFF
