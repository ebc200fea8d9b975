"""Reference-parity CLI programs.

A user of the reference runs ``spark-submit G019HW1 file D M K L`` etc.;
these modules are the drop-in equivalents on this engine:

    python -m big_data_hw_23_24_spark.apps.hw1 <file> <D> <M> <K> <L>
    python -m big_data_hw_23_24_spark.apps.hw2 <file> <M> <K> <L>
    python -m big_data_hw_23_24_spark.apps.hw3 <n> <phi> <eps> <delta> <port>
    python -m big_data_hw_23_24_spark.apps.wordcount <K> <file>

Output formats mirror the reference's println reports so published
outputs remain comparable (timings obviously differ). Where the
reference's tie order is nondeterministic (cells with equal size from
hash-partition order) we pin a deterministic tiebreak and note it.
"""

import math
import sys
from collections.abc import Callable


def parse_flags(argv: list[str],
                options: dict[str, tuple[str, Callable[[str], object]]],
                switches: dict[str, str] | None = None) -> dict | None:
    """``--flag value`` pairs and bare ``switches`` -> ``run()`` keywords.

    ``options`` maps a value flag to ``(keyword, parse)``; ``switches``
    maps a bare flag to the keyword it sets True. None on an unknown
    flag, a missing value or a ``parse`` ``ValueError``, so the CLI
    can print its usage line and exit 2 before it builds a session.
    """
    switches = switches or {}
    kwargs: dict = {}
    it = iter(argv)
    for flag in it:
        if flag in switches:
            kwargs[switches[flag]] = True
            continue
        value = next(it, None)
        if flag not in options or value is None:
            return None
        keyword, parse = options[flag]
        try:
            kwargs[keyword] = parse(value)
        except ValueError as e:
            print(f"{flag} {value!r}: {e}", file=sys.stderr)
            return None
    return kwargs


def choice(*allowed: str) -> Callable[[str], str]:
    """A ``parse_flags`` parser accepting only ``allowed`` values."""
    def parse(value: str) -> str:
        if value not in allowed:
            raise ValueError(f"must be one of {', '.join(allowed)}")
        return value
    return parse


def positive(parse: Callable[[str], float]) -> Callable[[str], float]:
    """``parse``, then require a finite value > 0."""
    def parse_positive(value: str) -> float:
        x = parse(value)
        if not (x > 0 and math.isfinite(x)):
            raise ValueError("must be a finite number > 0")
        return x
    return parse_positive


def fraction(value: str) -> float:
    """A float strictly inside (0, 1)."""
    x = float(value)
    if not 0 < x < 1:
        raise ValueError("must be in (0, 1)")
    return x


def parse_args(argv: list[str],
               params: list[tuple[str, Callable[[str], object]]]
               ) -> list | None:
    """Positional values -> parsed values, one ``(name, parse)`` per
    value. None on a ``parse`` ``ValueError``, after printing its
    reason, so the CLI can print its usage line and exit 2 before it
    builds a session."""
    out = []
    for (name, parse), value in zip(params, argv):
        try:
            out.append(parse(value))
        except ValueError as e:
            print(f"{name} {value!r}: {e}", file=sys.stderr)
            return None
    return out
