"""Independent reference computations the benchmark checks outputs
against. Nothing here touches Spark: the CDC replay is plain Python over
the generated events, so a defect in the engine's compaction or merge
cannot hide in the oracle too."""

from __future__ import annotations

import hashlib
import json
import math


def replay(initial: dict, events) -> dict:
    """Latest-wins replay: apply ``events``, ``(key, row, op, ts_ms,
    off)`` tuples, one by one in ``(ts_ms, off)`` order to a copy of
    ``initial`` (key -> row). ``d`` removes the key; any other op
    stores the event's row."""
    return _apply(dict(initial), events)


class VersionedReplay:
    """Replay that remembers every committed version, so a read of any
    version can be checked. ``commit(events)`` applies one batch and
    returns the new version number (the initial state is version 0).
    Each version stores only the keys its batch changed."""

    def __init__(self, initial: dict):
        self.head = dict(initial)
        self.history: dict = {}  # key -> [(version, row or None)]
        self.version = 0

    def commit(self, events: list[tuple]) -> int:
        touched = {e[0] for e in events}
        before = {k: self.head.get(k) for k in touched}
        self.head = _apply(self.head, events)
        self.version += 1
        for k in touched:
            if self.head.get(k) != before[k]:
                self.history.setdefault(k, []).append(
                    (self.version, self.head.get(k)))
        return self.version

    def at(self, k, version: int, initial: dict):
        """The row for key ``k`` as of ``version`` (None if absent)."""
        row = initial.get(k)
        for v, r in self.history.get(k, ()):
            if v > version:
                break
            row = r
        return row

    def changed_between(self, v_from: int, v_to: int, initial: dict) -> dict:
        """key -> op ('c', 'u' or 'd') for every key whose row differs
        between the two versions: the expected ``diff(v_from, v_to)``."""
        out = {}
        for k, hist in self.history.items():
            if not any(v_from < v <= v_to for v, _ in hist):
                continue
            a, b = self.at(k, v_from, initial), self.at(k, v_to, initial)
            if a == b:
                continue
            out[k] = "c" if a is None else "d" if b is None else "u"
        return out


def _apply(state: dict, events) -> dict:
    """In-place latest-wins apply over ``state``."""
    for key, row, op, _ts, _off in sorted(events, key=lambda e: (e[3], e[4])):
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = row
    return state


def parses_as_event(value) -> bool:
    """True when a stream record's value decodes to an envelope with a
    non-null ``op``: the pipeline's rule for what is NOT a dead letter."""
    if value is None:
        return False
    try:
        env = json.loads(value)
    except ValueError:
        return False
    return isinstance(env, dict) and env.get("op") is not None


def expected_dead_letters(records: list[dict]) -> list[tuple]:
    """Sorted ``(key, value)`` pairs of every record the pipeline must
    send to the dead-letter queue."""
    return sorted((r["key"], r["value"]) for r in records
                  if not parses_as_event(r["value"]))


def canon_rows(cols: list[str], rows: list[dict]) -> str:
    """Order-insensitive md5 of stringified rows, the same canonical
    form the repository's oracle drive (``tools/drive_entry.py``) uses:
    floats and decimals rounded to 9 places, everything else ``str``."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = repr(round(v, 9))
            elif hasattr(v, "as_tuple"):
                v = repr(round(float(v), 9))
            else:
                v = str(v)
            vals.append(v)
        out.append("|".join(vals))
    h = hashlib.md5()
    for line in sorted(out):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_close(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    """Multiset equality of row tuples, floats compared with a relative
    tolerance (two engines may sum doubles in different orders)."""
    if len(a) != len(b):
        return False
    for x, y in zip(sorted(a, key=_sort_key), sorted(b, key=_sort_key)):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(
                        float(u), float(v), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif hasattr(u, "as_tuple") or hasattr(v, "as_tuple"):
                if not math.isclose(float(u), float(v), rel_tol=rel, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(round(float(v), 6)) if isinstance(v, float) else str(v))
                 for v in row)
