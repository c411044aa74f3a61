"""Null-safe JSON path walking — the reference's ``get_from_json``.

The reference duplicates this helper 9× (SURVEY.md §1.1: e.g.
/root/reference/1.samsclub/parse_samsclub.py:31-42,
costco/parse_costco.py:24-33, walmart/parse_walmart.py:18-27). We implement
the *safe* samsclub variant (bounds-checked list indices, parse_samsclub.py:37-38)
once: any miss → None, exactly Spark's ``get_json_object`` /
``try_element_at`` semantics, so column-level equivalents stay drop-in.
"""

from __future__ import annotations

from typing import Any, Iterable

__all__ = ["get_from_json"]


def get_from_json(obj: Any, path: Iterable) -> Any:
    """Walk dict keys (str) / list indices (int); None on any miss."""
    cur = obj
    for step in path:
        if cur is None:
            return None
        if isinstance(step, int):
            if isinstance(cur, (list, tuple)) and -len(cur) <= step < len(cur):
                cur = cur[step]
            else:
                return None
        else:
            if isinstance(cur, dict):
                cur = cur.get(step)
            else:
                return None
    return cur

