"""Output-schema naming: collision-safe column names (driver-side).

Reference: python-lib/utils/cleaning_utils.py:60-92 (``_1``..``_1000``
suffixing), formatting/base.py:72-77 (applied to tag columns),
cleaning_utils.py:95-117 (new columns placed right after the text column).
"""

from __future__ import annotations

__all__ = ["unique_name", "unique_names", "ordered_with_new_after"]


def unique_name(name: str, existing: list[str]) -> str:
    """``name``, or the first free ``name_1``..``name_1000``. Names compare
    case-insensitively, as Spark resolves them."""
    taken = {e.lower() for e in existing}
    if name.lower() not in taken:
        return name
    for i in range(1, 1001):
        candidate = f"{name}_{i}"
        if candidate.lower() not in taken:
            return candidate
    raise RuntimeError(f"could not find a unique name for column '{name}'")


def unique_names(names: list[str], existing: list[str]) -> list[str]:
    taken = list(existing)
    out = []
    for n in names:
        u = unique_name(n, taken)
        out.append(u)
        taken.append(u)
    return out


def ordered_with_new_after(
    input_cols: list[str], new_cols: list[str], after: str
) -> list[str]:
    """Final column order: input columns with ``new_cols`` inserted right
    after ``after`` (cleaning_utils.py:95-117)."""
    keep = [c for c in input_cols if c not in new_cols]
    pos = keep.index(after) + 1
    return keep[:pos] + new_cols + keep[pos:]
