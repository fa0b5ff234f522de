"""Significant digits <-> significant bits conversion — port of the
reference's standalone `sigs` utility (`/root/reference/sigs.c:20-45`).

This is the tool that justifies the default precision: 2 significant decimal
digits ~ 4.32 significant bits, ceil -> 5, hence sigbits=5
(`/root/reference/test.c:29-31`, `README.md:9-13`).
"""

from __future__ import annotations

import math


def convert_sigs(sigs: float, from_base: int, to_base: int) -> float:
    """`convert_sigs` (`sigs.c:20-28`): significant figures in one base
    expressed in another; NaN on invalid input, exactly as the reference."""
    if from_base < 2 or to_base < 2 or sigs < 1.0:
        return float("nan")
    factor = math.log(from_base) / math.log(to_base)
    return 1.0 - (1.0 - sigs) * factor


def digits_to_sigbits(digits: float) -> int:
    """Recommended ``sigbits`` for a target decimal-digit accuracy
    (ceil, as the reference's table suggests)."""
    return int(math.ceil(convert_sigs(digits, 10, 2)))


def tables() -> str:
    """The exact text the reference `sigs` binary prints (`sigs.c:30-45`)."""
    out = ["conversion tables between significant digits and bits", ""]
    out.append(f"{'digits':>8}{'bits':>8}{'floor':>8}{'ceil':>8}")
    for sigs in range(1, 8):
        exact = convert_sigs(sigs, 10, 2)
        out.append(f"{sigs:8d}{exact:8.2f}{int(math.floor(exact)):8d}{int(math.ceil(exact)):8d}")
    out.append("")
    out.append(f"{'bits':>8}{'digits':>8}{'floor':>8}{'ceil':>8}")
    for sigs in range(1, 20):
        exact = convert_sigs(sigs, 2, 10)
        out.append(f"{sigs:8d}{exact:8.2f}{int(math.floor(exact)):8d}{int(math.ceil(exact)):8d}")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    print(tables(), end="")
